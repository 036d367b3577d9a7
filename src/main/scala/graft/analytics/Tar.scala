package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** m15 — ustar (POSIX.1-1988 tar) archive walk: the multimodal family's
  * first MULTI-ENTRY container with data-dependent offsets. The fixed-
  * offset parsers (PNG/GIF/TIFF headers) read fields at known positions;
  * a tar walk must PARSE entry 0's size to even find entry 1's header
  * (512-byte blocks: header, then ceil(size/512) data blocks), and the
  * numeric fields are OCTAL ASCII (a third numeric encoding class after
  * big-endian and little-endian binary). The header checksum is the
  * archive's own integrity receipt: the byte sum of the 512-byte header
  * with the checksum field read as 8 spaces — the parser recomputes it
  * from the BYTES and compares to the stored value, while the oracle
  * derives the same number ARITHMETICALLY from the known fields, so the
  * two derivations meet only if every field landed byte-exact.
  *
  * Scale shape: builder and parser are pure per-row projections (string/
  * hex builtins + higher-order folds over fixed 512-byte windows) — they
  * ride the scan like the rest of the m-family.
  */
object Tar {

  private def strHex(s: Column): Column = hex(encode(s, "UTF-8"))

  /** NUL terminator — tar names are NUL-padded. */
  private val Nul: String = ("\u0000")

  /** Hex of `n` NUL bytes; `n` may be a column. */
  private def zeros(n: Column): Column =
    call_function("repeat", lit("00"), n.cast("int"))

  /** Byte sum of an ASCII string column (ord fold). */
  private def ordSum(s: Column): Column =
    aggregate(sequence(lit(1), length(s)), lit(0L),
      (a, i) => a + ascii(s.substr(i, lit(1))).cast(LongType))

  /** Byte sum of every CONSTANT header byte: mode/uid/gid fields, the
    * space-filled checksum field, typeflag '0', magic "ustar\0" and
    * version "00" — NULs contribute nothing. Compile-time constant.
    */
  private val ConstHeaderSum: Long =
    ("0000644" + "0000000" + "0000000" + "ustar" + "00" + "0")
      .map(_.toLong).sum + 8L * 0x20L

  /** One 512-byte ustar header (hex): name/size/mtime vary, mode 0644,
    * uid/gid 0, typeflag '0', magic "ustar\0" + version "00". The
    * checksum (byte sum of the header with the field space-filled) is
    * derived ARITHMETICALLY from the varying strings + [[ConstHeaderSum]]
    * — equal to the byte fold because every unaccounted byte is NUL.
    * (The first cut folded the built header's 512 bytes per entry; the
    * parser still does — that is its job — but the builder paying the
    * same fold put m15 at 45 s for 500 docs in the scale sweep.)
    */
  private def headerHex(name: Column, size: Column, mtime: Column): Column = {
    val sizeOct = lpad(conv(size.cast("string"), 10, 8), 11, "0")
    val mtimeOct = lpad(conv(mtime.cast("string"), 10, 8), 11, "0")
    val chk = ordSum(name) + ordSum(sizeOct) + ordSum(mtimeOct) +
      lit(ConstHeaderSum)
    val chkField = concat(strHex(lpad(conv(chk.cast("string"), 10, 8), 6, "0")),
      lit("00"), lit("20"))
    concat(
      strHex(name), zeros(lit(100) - length(name)),        // name[100]
      strHex(lit("0000644")), lit("00"),                   // mode
      strHex(lit("0000000")), lit("00"),                   // uid
      strHex(lit("0000000")), lit("00"),                   // gid
      concat(strHex(sizeOct), lit("00")),                  // size[12]
      concat(strHex(mtimeOct), lit("00")),                 // mtime[12]
      chkField,                                            // chksum[8]
      strHex(lit("0")),                                    // typeflag '0'
      zeros(lit(100)),                                     // linkname
      strHex(lit("ustar")), lit("00"), strHex(lit("00")),  // magic+version
      zeros(lit(247)))                                     // rest of 512
  }

  /** Per doc: a 2-entry archive — `d<id>.txt` holding the document text
    * (variable size, so entry 1's header offset is data-dependent) and
    * `m<id>` holding a fixed 10-byte payload — then the two zero-block
    * trailer. Entirely hex-built, one unhex at the end.
    */
  def withTar(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol).cast(LongType)
    val text = coalesce(col("text"), lit(""))
    val textHex = strHex(text)
    val n0 = length(encode(text, "UTF-8")).cast(LongType)
    val pad0 = (lit(512L) - pmod(n0, lit(512L))) % 512L
    val mtime = lit(1700000000L) + id
    val body1 = lit("0123456789")
    docs.select(col(idCol),
      unhex(concat(
        headerHex(concat(lit("d"), id.cast("string"), lit(".txt")), n0, mtime),
        textHex, zeros(pad0),
        headerHex(concat(lit("m"), id.cast("string")), lit(10L), mtime),
        strHex(body1), zeros(lit(502)),
        zeros(lit(1024)))).as("payload"))
  }

  private def beByte(p: Column, off: Column): Column =
    conv(hex(p.substr(off.cast("int"), lit(1))), 16, 10).cast(LongType)

  /** Octal ASCII field at [off, off+len) → long (NUL/space padding
    * stripped); NULL when the field carries no octal digits.
    */
  private def octAt(p: Column, off: Column, len: Int): Column =
    conv(regexp_replace(decode(p.substr(off.cast("int"), lit(len)),
      "UTF-8"), "[^0-7]", ""), 8, 10).cast(LongType)

  /** Walk up to `maxEntries` headers and emit one row per entry:
    * (entry_idx, hdr_off, name, size, mtime, typeflag, magic_ok,
    * stored_chk, chksum_ok). The walk STOPS at the zero-block trailer
    * (first name byte NUL) or past end-of-payload; each entry's header
    * offset is 512·(1+ceil(size/512)) past the previous — parsed, not
    * assumed. chksum_ok compares the stored octal value to the byte sum
    * of the header with the checksum field read as spaces (computed as
    * fullSum − chkFieldSum + 8·0x20, one hex fold per entry).
    */
  def parseTar(tars: DataFrame, maxEntries: Int = 4,
      idCol: String = "doc_id"): DataFrame = {
    val p = col("payload")
    // checksum = byte sum of the 512-byte header with the chksum field
    // read as 8 spaces. The native byte_range_sum kernel runs it as one
    // codegen'd loop over the raw bytes; the declarative hex fold it
    // replaced computes the identical value (AHashSpec equivalence) but
    // re-walks the lambda tree — including the embedded hex(substr) header
    // projection — once per byte, which put the map-only walk at 50.8 s
    // for 5 000 rows at sf0.1 (r17 optimization round measurement).
    def computedChk(off: Column): Column =
      call_function("byte_range_sum", p, off + 1L, lit(512L)) -
        call_function("byte_range_sum", p, off + 149L, lit(8L)) +
        lit(8L * 0x20L)
    def entry(off: Column): Column = {
      val computed = computedChk(off)
      val nameRaw = decode(p.substr(off.cast("int") + 1, lit(100)), "UTF-8")
      struct(
        off.as("hdr_off"),
        substring_index(nameRaw, Nul, 1).as("name"),
        octAt(p, off + 125, 12).as("size"),
        octAt(p, off + 137, 12).as("mtime"),
        decode(p.substr(off.cast("int") + 157, lit(1)), "UTF-8").as("typeflag"),
        (hex(p.substr(off.cast("int") + 258, lit(6))) === "757374617200")
          .as("magic_ok"),
        octAt(p, off + 149, 8).as("stored_chk"),
        (octAt(p, off + 149, 8) === computed).as("chksum_ok"))
    }
    // compose the walk: each slot's offset is the previous slot's
    // offset + 512 + 512*ceil(size/512). Built as an ARRAY fold + one
    // transform lambda so the offset chain and the per-entry parse
    // subtree each exist ONCE in the plan — the first cut unrolled them
    // per slot, and the chained duplication (slot k's offset embeds
    // slot k-1's whole tree) put the map-only walk at minutes in the
    // scale sweep. A slot is NULL once the walk hits the zero trailer
    // or runs past the payload.
    val offsArr = aggregate(
      sequence(lit(1), lit(maxEntries - 1)),
      array(lit(0L)),
      (acc, _) => {
        val prev = element_at(acc, -1)
        val sz = octAt(p, prev + 125, 12)
        concat(acc, array(coalesce(
          prev + 512L + ((sz + 511L) - pmod(sz + 511L, lit(512L))),
          prev + 512L)))
      })
    val slots = transform(offsArr, off =>
      when(length(p) >= off + 512 && beByte(p, off + 1) =!= 0, entry(off)))
    tars.select(col(idCol), posexplode(filter(slots, _.isNotNull)))
      .select(col(idCol), col("pos").cast("bigint").as("entry_idx"),
        col("col.hdr_off").as("hdr_off"), col("col.name").as("name"),
        col("col.size").as("size"), col("col.mtime").as("mtime"),
        col("col.typeflag").as("typeflag"), col("col.magic_ok").as("magic_ok"),
        col("col.stored_chk").as("stored_chk"),
        col("col.chksum_ok").as("chksum_ok"))
  }
}
