package nefbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.spark.sql.Row

/** Seeded NEF traffic: the subscription dimension and notification lines.
  *
  * The mix carries all three supported event types with several infos per
  * event, trajectory and comms arrays, and fixed shares of the four
  * failure classes of the fuzz corpus (`tools/fuzz/corpus.jsonl.gz`):
  * malformed JSON lines, unknown notifIds, unsupported event types and
  * null info elements. NotifIds are Zipf-skewed over the dimension, so
  * the `kafkaBatches` groupBy sees hot keys.
  *
  * Infos carry the number of the file they were written to in a tag field
  * that the benchmark's policy leaves untouched (`appId` for PERF_DATA,
  * `gpsi` otherwise, as `…~f<n>`), so a delivered record names the file
  * it came from. A small share has no UE identity and no such tag at
  * all; under a subscription without context tags those records drop.
  */
final class Gen(seed: Long) {
  import Gen._

  private val subRng = new SplittableRandom(seed ^ 0x5eed5eedL)
  private val rng = new SplittableRandom(seed)

  /** Subscription rows in `NefSchemas.subscription` shape, hottest first.
    * Which kind of row sits at each popularity rank is fixed, so the share
    * of traffic under each kind does not move with the seed: one rank in
    * 20 has no context tags at all (null snssai and dnn), so infos without
    * a UE id under it drop, and one in 10 uses the dnn the policy denies
    * UE_COMM on. The seed draws the tag values.
    */
  val subscriptions: IndexedSeq[Row] = (0 until NSubs).map { i =>
    val (snssai, dnn) =
      if (i % 20 == 13) (null, null)
      else {
        val sd = i % 4 match {
          case 0 => null
          case 1 => ""
          case _ => f"${subRng.nextInt(1 << 24)}%06x"
        }
        val dnn = i % 10 match {
          case 3 => DeniedDnn
          case 4 => ""
          case 5 | 6 => "ims"
          case _ => "internet"
        }
        (Row(subRng.nextInt(4), sd), dnn)
      }
    Row(subId(i), snssai, dnn, Seq("PERF_DATA", "UE_MOBILITY", "UE_COMM"),
      s"nef-sub-$i", "http://nef:8090/nnef-event-exposure/v1/subscriptions",
      1765000000L + i)
  }

  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(NSubs)(k => 1.0 / math.pow(k + 1, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  private def zipfSub(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, NSubs - 1)
  }

  private val truthAcc = new Truth.Builder

  /** Counts of everything generated so far. */
  def truth: Truth = truthAcc.result

  /** One notification line (no trailing newline) tagged with file `fileNo`. */
  def notification(fileNo: Int): String = {
    truthAcc.notifications += 1
    val u = rng.nextDouble()
    if (u < MalformedShare) {
      truthAcc.malformed += 1
      // the infos inside a malformed line are attempted but never parsed
      truthAcc.infos += 1
      rng.nextInt(3) match {
        case 0 => s"""{"notifId": "${subId(zipfSub())}", "eventNotifs": [unclosed"""
        case 1 => s"""{"notifId": "${subId(zipfSub())}" "eventNotifs": []}"""
        case _ => s"""{"notifId": "${subId(zipfSub())}", "eventNotifs": [{"event": "PERF_DATA", "perfDataInfos": [{"appId": "x"}"""
      }
    } else {
      val known = u >= MalformedShare + UnknownShare
      val id = if (known) subId(zipfSub()) else {
        truthAcc.unknownNotif += 1
        s"ghost-${rng.nextInt(500)}"
      }
      val sb = new java.lang.StringBuilder(1024)
      sb.append("{\"notifId\":\"").append(id).append("\",\"eventNotifs\":[")
      val nEvents = 1 + rng.nextInt(3)
      var e = 0
      while (e < nEvents) {
        if (e > 0) sb.append(',')
        eventNotif(sb, fileNo)
        e += 1
      }
      sb.append("]}").toString
    }
  }

  private def eventNotif(sb: java.lang.StringBuilder, fileNo: Int): Unit = {
    val u = rng.nextDouble()
    val kind =
      if (u < UnsupportedShare) -1
      else if (u < UnsupportedShare + 0.45) 0
      else if (u < UnsupportedShare + 0.75) 1
      else 2
    val nInfos = 1 + rng.nextInt(4)
    sb.append("{\"event\":\"")
    kind match {
      case -1 =>
        truthAcc.unsupportedEvents += 1
        truthAcc.infos += nInfos
        sb.append(UnsupportedEvents(rng.nextInt(UnsupportedEvents.length)))
        sb.append("\",\"timeStamp\":\"").append(isoTs()).append("\",\"dispersionInfos\":[]}")
        return
      case 0 => sb.append("PERF_DATA")
      case 1 => sb.append("UE_MOBILITY")
      case _ => sb.append("UE_COMM")
    }
    sb.append("\",\"timeStamp\":\"").append(isoTs()).append("\",")
    sb.append(kind match {
      case 0 => "\"perfDataInfos\":["
      case 1 => "\"ueMobilityInfos\":["
      case _ => "\"ueCommInfos\":["
    })
    var i = 0
    while (i < nInfos) {
      if (i > 0) sb.append(',')
      truthAcc.infos += 1
      if (rng.nextDouble() < NullInfoShare) {
        truthAcc.nullInfos += 1
        sb.append("null")
      } else kind match {
        case 0 => perfInfo(sb, fileNo)
        case 1 => mobilityInfo(sb, fileNo)
        case _ => commInfo(sb, fileNo)
      }
      i += 1
    }
    sb.append("]}")
  }

  private def perfInfo(sb: java.lang.StringBuilder, fileNo: Int): Unit = {
    sb.append('{')
    val noUe = rng.nextInt(20) == 0
    rng.nextInt(20) match {
      case _ if noUe => () // no UE address: only the subscription context tags it
      case 1 | 2 | 3 =>
        sb.append("\"ueIpAddr\":{\"ipv6Addr\":\"2001:db8::")
          .append(Integer.toHexString(rng.nextInt(1 << 16))).append("\"},")
      case _ =>
        sb.append("\"ueIpAddr\":{\"ipv4Addr\":\"10.").append(rng.nextInt(256)).append('.')
          .append(rng.nextInt(256)).append('.').append(rng.nextInt(256)).append("\"},")
    }
    if (!noUe) sb.append("\"appId\":\"app-").append(rng.nextInt(40)).append("~f").append(fileNo).append("\",")
    if (rng.nextInt(10) != 0) sb.append("\"timeStamp\":\"").append(isoTs()).append("\",")
    sb.append("\"perfData\":{")
    sb.append("\"thrputUl\":\"").append(bitrate()).append("\",")
    sb.append("\"thrputDl\":\"").append(bitrate()).append('"')
    if (rng.nextBoolean()) {
      sb.append(",\"maxThrputUl\":\"").append(bitrate()).append('"')
      sb.append(",\"minThrputDl\":\"").append(bitrate()).append('"')
    }
    sb.append(",\"pdb\":").append(1 + rng.nextInt(200))
    sb.append(",\"plr\":").append(rng.nextInt(100))
    if (rng.nextInt(3) == 0) sb.append(",\"maxPlrDl\":\"").append(rng.nextInt(50)).append('"')
    sb.append("}}")
  }

  private def mobilityInfo(sb: java.lang.StringBuilder, fileNo: Int): Unit = {
    sb.append('{')
    val noUe = rng.nextInt(16) == 0
    if (!noUe) sb.append("\"supi\":\"").append(supi()).append("\",")
    if (!noUe || rng.nextBoolean())
      sb.append("\"gpsi\":\"msisdn-").append(rng.nextInt(100000)).append("~f").append(fileNo).append("\",")
    sb.append("\"ueTrajs\":[")
    val n = rng.nextInt(5)
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(',')
      sb.append("{\"ts\":\"").append(isoTs()).append("\",\"location\":{\"nrLocation\":{")
        .append("\"tai\":{\"plmnId\":{\"mcc\":\"001\",\"mnc\":\"01\"},\"tac\":\"")
        .append(f"${rng.nextInt(1 << 24)}%06X").append("\"},")
        .append("\"ncgi\":{\"plmnId\":{\"mcc\":\"001\",\"mnc\":\"01\"},\"nrCellId\":\"")
        .append(f"${rng.nextLong(1L << 36)}%09X").append("\"}}}}")
      k += 1
    }
    sb.append("]}")
  }

  private def commInfo(sb: java.lang.StringBuilder, fileNo: Int): Unit = {
    sb.append('{')
    val noUe = rng.nextInt(16) == 0
    if (!noUe) sb.append("\"supi\":\"").append(supi()).append("\",")
    if (rng.nextInt(4) == 0) sb.append("\"interGroupId\":\"grp-").append(rng.nextInt(50)).append("\",")
    if (!noUe || rng.nextBoolean())
      sb.append("\"gpsi\":\"msisdn-").append(rng.nextInt(100000)).append("~f").append(fileNo).append("\",")
    sb.append("\"comms\":[")
    val n = 1 + rng.nextInt(3)
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(',')
      sb.append("{\"startTime\":\"").append(isoTs()).append("\",\"endTime\":\"").append(isoTs())
        .append("\",\"ulVol\":").append(rng.nextInt(1 << 24))
        .append(",\"dlVol\":").append(rng.nextLong(1L << 32)).append('}')
      k += 1
    }
    sb.append("]}")
  }

  private def supi(): String = f"imsi-00101${rng.nextLong(10000000000L)}%010d"

  private def bitrate(): String = rng.nextInt(6) match {
    case 0 => s"${rng.nextInt(900) + 100} Kbps"
    case 1 => s"${rng.nextInt(3)}.${rng.nextInt(100)} Gbps"
    case 2 => s"${rng.nextInt(100000)}" // bare number
    case _ => s"${rng.nextInt(1000)}.${rng.nextInt(100)} Mbps"
  }

  private def isoTs(): String = {
    val s = BaseEpochSec + rng.nextInt(86400)
    java.time.Instant.ofEpochSecond(s).toString
  }
}

object Gen {
  /** Subscription rows, and the Zipf exponent of notifId popularity. */
  val NSubs = 2000
  val ZipfS = 1.1
  /** Shares of lines that are malformed or name an unknown notifId, of
    * events that are unsupported, and of infos that are null.
    */
  val MalformedShare = 0.02
  val UnknownShare = 0.03
  val UnsupportedShare = 0.05
  val NullInfoShare = 0.03

  /** The dnn under which the benchmark's policy denies UE_COMM records. */
  val DeniedDnn = "blocked"
  val UnsupportedEvents: IndexedSeq[String] =
    IndexedSeq("LOSS_OF_CONNECTIVITY", "QOS_SUSTAINABILITY", "DISPERSION")
  /** 2026-04-20T00:00:00Z; generated timestamps fall within that day. */
  val BaseEpochSec: Long = 1776643200L

  def subId(i: Int): String = f"sub-$i%05d"

  private val FileName = "part-(\\d+)\\.json".r

  /** The number of a file [[writeFiles]] wrote. */
  def fileNo(path: Path): Int = path.getFileName.toString match {
    case FileName(n) => n.toInt
    case other => throw new IllegalArgumentException(s"not a corpus file: $other")
  }

  /** Ground-truth counts of a generated corpus. */
  final case class Truth(notifications: Long, malformed: Long, unknownNotif: Long,
      unsupportedEvents: Long, nullInfos: Long, infos: Long)

  object Truth {
    final class Builder {
      var notifications, malformed, unknownNotif, unsupportedEvents, nullInfos, infos = 0L
      def result: Truth =
        Truth(notifications, malformed, unknownNotif, unsupportedEvents, nullInfos, infos)
    }
  }

  /** Write `files` files of `perFile` lines each under `dir`, numbered from
    * `firstFile`, through a temporary name and an atomic rename so a
    * stream watching `dir` never sees a partial file. Returns the paths.
    */
  def writeFiles(gen: Gen, dir: Path, firstFile: Int, files: Int, perFile: Int): IndexedSeq[Path] = {
    Files.createDirectories(dir)
    (firstFile until firstFile + files).map { f =>
      val sb = new java.lang.StringBuilder(perFile * 1200)
      var i = 0
      while (i < perFile) { sb.append(gen.notification(f)).append('\n'); i += 1 }
      val out = dir.resolve(f"part-$f%06d.json")
      val tmp = dir.resolve(f".part-$f%06d.json.tmp")
      Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
      out
    }
  }
}
