package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video travel as opaque `binary`
  * columns with typed metadata; decode / feature-extract run per-partition
  * over batches of payloads.
  *
  * The decode step itself is STUBBED with a deterministic fake (this
  * container ships no image/audio codecs) — everything Spark-side is real
  * and tested: the schema contract, the partition-wise batched execution
  * shape (the Scala analogue of `mapInPandas`), and the downstream typed
  * feature columns. A real decoder drops into [[decodeStub]] without
  * touching any caller.
  *
  * Scale notes: payloads stay columnar-compressed in parquet until the
  * decode task touches them; `withPayloads.repartition(n)` sizes decode
  * tasks independently of upstream file splits, which is the knob that
  * matters when each payload is MBs of image rather than bytes of text.
  */
object Multimodal {

  /** Little-endian hex WRITER shared by the fixture builders (gif, zip,
    * wav, bmp, webp): integer column `v` rendered as n bytes, LSB
    * first — pad the hex to 2n digits, then reverse byte pairs. */
  private def le(v: Column, n: Int): Column = {
    val p = lpad(hex(v), 2 * n, "0")
    concat((0 until n).reverse.map(i => substring(p, 2 * i + 1, 2)): _*)
  }

  /** Little-endian READER over a pre-materialized hex column named `h`
    * (zip, bmp, webp): the n bytes at 0-BASED byte offset `off`,
    * byte-reversed into a BIGINT. */
  private def leR(off: Int, n: Int): Column = {
    val parts = (off + n - 1).to(off, -1)
      .map(b => s"substring(h, ${2 * b + 1}, 2)")
      .mkString("concat(", ", ", ")")
    expr(s"CAST(conv($parts, 16, 10) AS BIGINT)")
  }

  /** DuckDB-side little-endian WRITER fragment: byte-reverse a
    * pre-padded 2n-digit hex column (ico, avi oracles — the SQL mirror
    * of [[le]]). */
  private def sqlLeW(padded: String, n: Int): String =
    (n - 1).to(0, -1).map(i => s"substring($padded, ${2 * i + 1}, 2)")
      .mkString(" || ")

  /** DuckDB-side little-endian READER fragment over hex column `h` at
    * 0-based byte offset (the SQL mirror of [[leR]]). */
  private def sqlLeR(off: Int, n: Int): String =
    "CAST('0x' || " + (off + n - 1).to(off, -1)
      .map(b => s"substring(h, ${2 * b + 1}, 2)")
      .mkString(" || ") + " AS BIGINT)"

  /** ASCII-OCTAL reader over hex column `h` (tar): n octal digit bytes
    * at 0-based offset fold to Σ(byte−48)·8^k — pure integer text. */
  private def octR(off: Int, n: Int): Column = expr(
    (0 until n).map { k =>
      val p = Seq.fill(n - 1 - k)(8L).product
      s"(CAST(conv(substring(h, ${2 * (off + k) + 1}, 2), 16, 10) " +
        s"AS BIGINT) - 48) * CAST($p AS BIGINT)"
    }.mkString("(", " + ", ")"))

  /** DuckDB mirror of [[octR]] — only the hex-pair→int spelling
    * differs; the folded VALUE is identical. */
  private def sqlOctR(off: Int, n: Int): String =
    (0 until n).map { k =>
      val p = Seq.fill(n - 1 - k)(8L).product
      s"(CAST('0x' || substring(h, ${2 * (off + k) + 1}, 2) " +
        s"AS BIGINT) - 48) * CAST($p AS BIGINT)"
    }.mkString("(", " + ", ")")

  /** Little-endian READER inlining hex(payload) with 1-BASED byte
    * offsets (gif, wav — the older convention their spec offsets were
    * written against). */
  private def leRead(off: Int, n: Int): Column = {
    val parts = (off + n - 1).to(off, -1)
      .map(b => s"substring(hex(payload), ${2 * b - 1}, 2)")
      .mkString("concat(", ", ", ")")
    expr(s"CAST(conv($parts, 16, 10) AS BIGINT)")
  }

  case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte])
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Long,
      checksum: Long, width: Int, height: Int, mean_intensity: Double)

  /** Wrap the documents table as (id, type, binary payload) — the ingest
    * contract a real pipeline would satisfy with image/audio bytes. */
  def withPayloads(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"),
        lit("text/plain").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaRow]
  }

  /** Deterministic fake "decode": byte stats standing in for a codec.
    * Replace the body with the real decoder (keeping the signature) to get
    * actual image features — callers and tests are agnostic. */
  def decodeStub(row: MediaRow): MediaFeatures = {
    val bytes = row.payload
    var sum = 0L
    var h = 1125899906842597L // deterministic FNV-ish rolling checksum
    var i = 0
    while (i < bytes.length) {
      sum += bytes(i) & 0xff
      h = h * 31 + (bytes(i) & 0xff)
      i += 1
    }
    val side = math.max(1, math.sqrt(bytes.length.toDouble).toInt)
    MediaFeatures(row.doc_id, row.media_type, bytes.length.toLong, h,
      side, side,
      if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length)
  }

  /** Partition-wise batched feature extraction (the `mapInPandas` shape:
    * one iterator of rows in, one iterator of feature rows out, executed
    * per partition with no driver involvement). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(decodeStub))
  }

  /** End-to-end: ingest → decode → typed feature DataFrame. */
  def features(spark: SparkSession, sfDir: String): DataFrame =
    extractFeatures(withPayloads(spark, sfDir)).toDF()

  // ---- binary header parsing (real parsing over a binary column) ----
  //
  // The corpus ships no real media bytes, so the PAYLOAD is a
  // deterministic fixture: a spec-correct PNG signature+IHDR or JFIF
  // APP0+SOF0 header (dimensions derived from doc fields) followed by
  // text bytes. The PARSE side is the real thing — magic-byte sniffing
  // and big-endian dimension extraction at the spec offsets — and would
  // return correct dimensions for any canonical PNG / baseline-JFIF file
  // dropped into the payload column.

  /** Sniff a payload's format from its magic bytes (PNG 8-byte signature,
    * JPEG FFD8FF). `ph` is the payload's hex string. */
  def sniffFormat(ph: Column): Column =
    when(substring(ph, 1, 16) === "89504E470D0A1A0A", "png")
      .when(substring(ph, 1, 6) === "FFD8FF", "jpeg")
      .otherwise("unknown")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_headers" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val w = (col("n_chars") % 1024 + 1).cast("int")
      val h = (col("doc_id") % 768 + 1).cast("int")
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val pngHex = concat(
        lit("89504E470D0A1A0A" + // PNG signature
          "0000000D" + "49484452"), // IHDR length + type
        lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
        lit("0806000000"), // bit depth 8, RGBA, default methods
        textHex)
      val jpegHex = concat(
        lit("FFD8" + // SOI
          "FFE00010" + "4A46494600010100000100010000" + // APP0 (JFIF)
          "FFC00011" + "08"), // SOF0, 8-bit precision
        lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),
        lit("03012200021101031101"), // 3 components
        textHex)
      val payloadHex = when(col("doc_id") % 7 === 0, textHex)
        .when(col("doc_id") % 2 === 0, pngHex)
        .otherwise(jpegHex)
      val withPayload = docs.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
      // parse — everything below reads ONLY (doc_id, payload)
      val ph = hex(col("payload"))
      val fmt = sniffFormat(ph)
      def be(off: Int, n: Int) = // byte offset → hex-string offset
        expr(s"CAST(conv(substring(hex(payload), ${2 * off - 1}, ${2 * n})," +
          " 16, 10) AS BIGINT)")
      withPayload.select(
        col("doc_id"),
        fmt.as("media_format"),
        when(fmt === "png", be(17, 4)) // IHDR width, bytes 17-20
          .when(fmt === "jpeg", be(28, 2)) // SOF0 width, bytes 28-29
          .as("img_w"),
        when(fmt === "png", be(21, 4)) // IHDR height, bytes 21-24
          .when(fmt === "jpeg", be(26, 2)) // SOF0 height, bytes 26-27
          .as("img_h"),
        length(col("payload")).cast("long").as("n_bytes"))
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // WAV/RIFF header parse — the AUDIO member of the header family, and
    // the LITTLE-endian one: RIFF stores every integer field LSB-first,
    // so this query proves the hex-slice readers are endian-generic
    // (PNG/JFIF above read big-endian at fixed offsets; here the same
    // slices concatenate in reverse byte order before the base-16 cast).
    // Fixture payload is a spec-correct 44-byte PCM WAV header
    // (RIFF size / fmt chunk / data size all consistent) with fields
    // derived from doc columns; every 5th doc gets non-WAV bytes to
    // exercise the sniff-reject path. Parse side reads ONLY
    // (doc_id, payload) and would return correct fields for any
    // canonical PCM WAV dropped into the column. Pure narrow map.
    // GIF logical-screen-descriptor parse — the image sibling of the
    // WAV walk and the second LITTLE-endian member of the header
    // family: a spec-correct 13-byte GIF89a header (magic, u16 LE
    // width/height, packed flags, background index, aspect) is built
    // from doc fields and parsed back by reversed-byte hex slices;
    // every 5th doc carries non-GIF bytes for the sniff-reject path.
    // The packed byte decodes the global-color-table size as
    // 2^(bits+1) via an integer shift — no pow, engine-identical.
    // Pure narrow map over a binary column.
    "q_multimodal_gif" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val wpx = (col("doc_id") % 900 + 100).cast("int")
      val hpx = ((col("doc_id") * 7) % 500 + 100).cast("int")
      val packed = (col("doc_id") % 8 + 128).cast("int")
      val bg = (col("doc_id") % 256).cast("int")
      val gifHex = concat(lit("474946383961"),
        le(wpx, 2), le(hpx, 2),
        lpad(hex(packed), 2, "0"), lpad(hex(bg), 2, "0"), lit("00"))
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(gifHex)
      val withPayload = docs.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
      val isGif = length(col("payload")) >= 13 &&
        expr("substring(hex(payload), 1, 12)") === "474946383961"
      def f(c: Column) = when(isGif, c)
      withPayload.select(
        col("doc_id"),
        isGif.as("is_gif"),
        f(leRead(7, 2)).as("width"),
        f(leRead(9, 2)).as("height"),
        f(leRead(11, 1)).as("packed"),
        f(leRead(12, 1)).as("bg_index"))
        .withColumn("n_colors", expr(
          "shiftleft(CAST(2 AS BIGINT), CAST(packed % 8 AS INT))"))
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // ICO directory parse — the MULTI-ENTRY member of the header family:
    // an ICONDIR (reserved 0, type 1, count — all u16 LE) followed by
    // count 16-byte ICONDIRENTRYs whose u8 width/height encode 256 AS
    // ZERO (the one header in the family with a sentinel dimension —
    // the decode is a CASE, engine-identical) plus u16 planes/bitcount
    // and u32 bytes/offset. The fixture writes a spec-correct 2-entry
    // directory (offsets chained: entry 2 starts where entry 1's bytes
    // end) from doc fields; the parse reads BOTH entries at their
    // 6 + 16·i offsets and verifies the offset chain — a real reader's
    // directory-walk, flattened (count is fixture-known = 2, so no
    // data-dependent loop; q_multimodal_ogg covers that case). Every
    // 5th doc sniff-rejects (printable text can never hex-start
    // "00000100"). Pure narrow map over a binary column.
    "q_multimodal_ico" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .withColumn("w1r", (col("doc_id") % 256).cast("long"))
        .withColumn("h1r", ((col("doc_id") * 7) % 256).cast("long"))
        .withColumn("bpp1", element_at(
          array(lit(4L), lit(8L), lit(24L), lit(32L)),
          (col("doc_id") % 4 + 1).cast("int")))
        .withColumn("w2r", ((col("doc_id") * 3) % 256).cast("long"))
        .withColumn("h2r", ((col("doc_id") * 5) % 256).cast("long"))
        .withColumn("bpp2", element_at(
          array(lit(4L), lit(8L), lit(24L), lit(32L)),
          ((col("doc_id") * 2) % 4 + 1).cast("int")))
        .withColumn("bytes1", (col("doc_id") % 999 + 1) * 8L)
        .withColumn("bytes2", ((col("doc_id") * 7) % 999 + 1) * 4L)
        .withColumn("col1",
          when(col("bpp1") === 4L, lit(16L)).otherwise(lit(0L)))
        .withColumn("col2",
          when(col("bpp2") === 4L, lit(16L)).otherwise(lit(0L)))
      def entry(w: String, h: String, c: String, bpp: String,
          bytes: Column, off: Column) = concat(
        lpad(hex(col(w)), 2, "0"), lpad(hex(col(h)), 2, "0"),
        lpad(hex(col(c)), 2, "0"), lit("00"),
        le(lit(1L), 2), le(col(bpp), 2), le(bytes, 4), le(off, 4))
      val icoHex = concat(lit("000001000200"),
        entry("w1r", "h1r", "col1", "bpp1", col("bytes1"), lit(38L)),
        entry("w2r", "h2r", "col2", "bpp2", col("bytes2"),
          lit(38L) + col("bytes1")))
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(icoHex)
      val withPayload = base.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
      val isIco = length(col("payload")) >= 38 &&
        expr("substring(h, 1, 8)") === "00000100"
      def f(c: Column) = when(isIco, c)
      def dim(raw: Column) =
        when(raw === 0L, lit(256L)).otherwise(raw)
      withPayload
        .withColumn("is_ico", isIco)
        .withColumn("n_images", f(leR(4, 2)))
        .withColumn("w1", f(dim(leR(6, 1))))
        .withColumn("h1", f(dim(leR(7, 1))))
        .withColumn("bits1", f(leR(12, 2)))
        .withColumn("bytes1", f(leR(14, 4)))
        .withColumn("off1", f(leR(18, 4)))
        .withColumn("w2", f(dim(leR(22, 1))))
        .withColumn("h2", f(dim(leR(23, 1))))
        .withColumn("bits2", f(leR(28, 2)))
        .withColumn("bytes2", f(leR(30, 4)))
        .withColumn("off2", f(leR(34, 4)))
        .withColumn("chain_ok", f(col("off1") === 38L
          && col("off2") === col("off1") + col("bytes1")))
        .select("doc_id", "is_ico", "n_images", "w1", "h1", "bits1",
          "bytes1", "off1", "w2", "h2", "bits2", "bytes2", "off2",
          "chain_ok")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // AVI main-header parse — the NESTED-CONTAINER member of the header
    // family: RIFF('AVI ') wraps LIST('hdrl') wraps the 'avih' chunk
    // (every size field u32 LE), and the MainAVIHeader's
    // dwMicroSecPerFrame/dwTotalFrames/dwStreams/dwWidth/dwHeight sit
    // at fixed offsets inside it — three levels of container framing
    // where WAV had one. The fixture writes a spec-consistent 88-byte
    // header (RIFF size = 80, LIST size = 68, avih cb = 56, frame
    // period = 10⁶ DIV fps over a 5-rate table); the parse verifies
    // the size chain and derives fps×1000 and clip duration by integer
    // floor division — engine-identical, no float frame rates. Every
    // 5th doc sniff-rejects. Pure narrow map over a binary column.
    "q_multimodal_avi" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .withColumn("fps", element_at(
          array(lit(10L), lit(24L), lit(25L), lit(30L), lit(60L)),
          (col("doc_id") % 5 + 1).cast("int")))
        .withColumn("uspf", expr("CAST(1000000 AS BIGINT) DIV fps"))
        .withColumn("frames", (col("doc_id") % 3600 + 1).cast("long"))
        .withColumn("streams", (col("doc_id") % 2 + 1).cast("long"))
        .withColumn("w", (col("doc_id") % 1920 + 1).cast("long"))
        .withColumn("hpx", ((col("doc_id") * 3) % 1080 + 1).cast("long"))
      val aviHex = concat(lit("52494646"), // 'RIFF'
        le(lit(80L), 4), // riff size = 88 - 8
        lit("41564920"), // 'AVI '
        lit("4C495354"), // 'LIST'
        le(lit(68L), 4), // list size: 'hdrl' + avih chunk
        lit("6864726C"), // 'hdrl'
        lit("61766968"), // 'avih'
        le(lit(56L), 4), // avih cb
        le(col("uspf"), 4), le(lit(500000L), 4), // usPerFrame, maxBps
        le(lit(0L), 4), le(lit(16L), 4), // padding, AVIF_HASINDEX
        le(col("frames"), 4), le(lit(0L), 4), // totalFrames, initial
        le(col("streams"), 4), le(lit(65536L), 4), // streams, sugBuf
        le(col("w"), 4), le(col("hpx"), 4),
        lit("00000000000000000000000000000000")) // dwReserved[4]
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(aviHex)
      val withPayload = base.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
      val isAvi = length(col("payload")) >= 88 &&
        expr("substring(h, 1, 8)") === "52494646" &&
        expr("substring(h, 17, 8)") === "41564920"
      def f(c: Column) = when(isAvi, c)
      withPayload
        .withColumn("is_avi", isAvi)
        .withColumn("riff_size", f(leR(4, 4)))
        .withColumn("list_size", f(leR(16, 4)))
        .withColumn("avih_cb", f(leR(28, 4)))
        .withColumn("us_per_frame", f(leR(32, 4)))
        .withColumn("total_frames", f(leR(48, 4)))
        .withColumn("n_streams", f(leR(56, 4)))
        .withColumn("width", f(leR(64, 4)))
        .withColumn("height", f(leR(68, 4)))
        .withColumn("fps_x1000", f(expr(
          "CAST(1000000000 AS BIGINT) DIV us_per_frame")))
        .withColumn("duration_ms", f(expr(
          "(us_per_frame * total_frames) DIV 1000")))
        .withColumn("size_chain_ok", f(
          col("riff_size") === col("list_size") + 12L
            && col("avih_cb") === col("list_size") - 12L))
        .select("doc_id", "is_avi", "riff_size", "list_size", "avih_cb",
          "us_per_frame", "total_frames", "n_streams", "width", "height",
          "fps_x1000", "duration_ms", "size_chain_ok")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // POSIX ustar tar-header parse — the ASCII-NUMERIC member of the
    // header family: where every other format stores integers as
    // binary bytes, tar stores them as OCTAL DIGIT STRINGS (size,
    // mtime, checksum), and its integrity check is a WHOLE-HEADER byte
    // sum with the checksum field counted as spaces — so a correct
    // parse needs (a) an ascii-octal fold (Σ(byte−48)·8^k, pure
    // integer text both engines) and (b) a 512-byte reduction with a
    // positional CASE (the q_multimodal_ogg higher-order-fold move at
    // 8× the length). The fixture writes a spec-correct 512-byte
    // header (name/mode/uid/gid/size/mtime/checksum/typeflag/magic,
    // zero-filled link/uname/prefix) whose checksum is assembled from
    // per-field ascii folds; the parse re-derives it from the raw
    // bytes and verifies the stored value. Every 5th doc
    // sniff-rejects on the 'ustar' magic at offset 257. Pure narrow
    // map over a binary column.
    "q_multimodal_tar" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .withColumn("nm", concat(lit("doc"),
          col("doc_id").cast("string"), lit(".txt")))
        .withColumn("sz", (col("doc_id") % 100000 + 1).cast("long"))
        .withColumn("mt",
          (lit(1500000000L) + col("doc_id") * 97L).cast("long"))
        .withColumn("szo", lpad(expr("conv(sz, 10, 8)"), 11, "0"))
        .withColumn("mto", lpad(expr("conv(mt, 10, 8)"), 11, "0"))
      // checksum = Σ header bytes with the checksum field as 8 spaces:
      // variable parts fold per field (ascii sums), constants are the
      // mode/uid/gid/typeflag/magic literals + 8·32 for the field
      // itself (= 2007; every other byte is NUL)
      def asciiSum(c: String) = s"aggregate(sequence(1, length($c)), " +
        s"CAST(0 AS BIGINT), (acc, i) -> acc + ascii(substring($c, i, 1)))"
      val withChk = base
        .withColumn("chk", expr(s"${asciiSum("nm")} + ${asciiSum("szo")}"
          + s" + ${asciiSum("mto")} + CAST(2007 AS BIGINT)"))
        .withColumn("chko", lpad(expr("conv(chk, 10, 8)"), 6, "0"))
      val tarHex = concat(
        rpad(hex(col("nm")), 200, "0"), // name[100], NUL-padded
        lit("3030303036343400"), // mode "0000644" + NUL
        lit("3030303137353000"), // uid  "0001750" + NUL
        lit("3030303137353000"), // gid
        hex(col("szo")), lit("00"), // size: 11 octal digits + NUL
        hex(col("mto")), lit("00"), // mtime
        hex(col("chko")), lit("0020"), // chksum: 6 digits + NUL + space
        lit("30"), // typeflag '0' (regular file)
        expr("repeat('00', 100)"), // linkname
        lit("757374617200"), // magic "ustar" + NUL
        lit("3030"), // version "00"
        expr("repeat('00', 64)"), // uname + gname
        expr("repeat('00', 16)"), // devmajor + devminor
        expr("repeat('00', 167)")) // prefix[155] + pad[12]
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(tarHex)
      val withPayload = withChk.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
      val isTar = length(col("payload")) >= 512 &&
        expr("substring(h, 515, 12)") === "757374617200"
      def f(c: Column) = when(isTar, c)
      withPayload
        .withColumn("is_tar", isTar)
        .withColumn("name", f(expr("CAST(unhex(regexp_replace(" +
          "substring(h, 1, 200), '(00)+$', '')) AS STRING)")))
        .withColumn("size_bytes", f(octR(124, 11)))
        .withColumn("mtime", f(octR(136, 11)))
        .withColumn("chksum_stored", f(octR(148, 6)))
        // r13 OPTIMIZATION (guide §4 / step-4 codegen): the 512-byte
        // reduction is the native [[graft.functions.ByteSumRange]] —
        // the HOF form ran 512 interpreted conv(substring(hex)) steps
        // per row (measured 13.1 s of the query's 13.4 s at sf0.1);
        // the native loop sums the same unsigned bytes compiled, with
        // the checksum field's 8 bytes counted as spaces via the
        // + 8·32 term. Identical integers; ByteOpsSpec pins the
        // equivalence against the HOF expression.
        .withColumn("chksum_computed", f(expr(
          "byte_sum_range(payload, 0, 148) " +
            "+ byte_sum_range(payload, 156, 512) " +
            "+ CAST(256 AS BIGINT)")))
        .withColumn("checksum_ok",
          f(col("chksum_stored") === col("chksum_computed")))
        .withColumn("typeflag", f(expr(
          "CAST(unhex(substring(h, 313, 2)) AS STRING)")))
        .select("doc_id", "is_tar", "name", "size_bytes", "mtime",
          "chksum_stored", "chksum_computed", "checksum_ok", "typeflag")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // Ogg page-header parse — the VARIABLE-LENGTH-TABLE member of the
    // header family (RFC 3533): after the fixed fields (capture
    // pattern 'OggS', version, header-type FLAG BITS, u64 LE granule —
    // the widest LE field here — u32 LE serial/sequence/crc) comes a
    // segment COUNT and then that many one-byte lacing values whose
    // SUM is the page payload size: a correct parse must read n_segs
    // first and then FOLD over a parse-time-unknown number of bytes —
    // zip had data-dependent offsets, this has a data-dependent
    // REDUCTION (a higher-order aggregate over the hex slice on both
    // engines). The header-type byte unpacks into the continued/bos/
    // eos flag bits by integer arithmetic. Every 5th doc
    // sniff-rejects. Pure narrow map over a binary column.
    "q_multimodal_ogg" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .withColumn("ht", ((col("doc_id") % 13 === 0).cast("int")
          + (col("doc_id") % 7 === 0).cast("int") * 2
          + (col("doc_id") % 11 === 0).cast("int") * 4).cast("long"))
        .withColumn("gran", col("doc_id") * 977L)
        .withColumn("ser", (col("doc_id") % 65536L + 1L))
        .withColumn("seq2", col("doc_id") % 1000L)
        .withColumn("nseg", (col("doc_id") % 4L + 1L).cast("int"))
      // lacing values: 1..nseg bytes, each (doc_id*31 + i*17) % 256
      val lacingHex = expr(
        "array_join(transform(sequence(1, nseg), i -> " +
          "lpad(hex((doc_id * 31 + i * 17) % 256), 2, '0')), '')")
      val oggHex = concat(lit("4F676753"), lit("00"), // 'OggS', v0
        lpad(hex(col("ht")), 2, "0"),
        le(col("gran"), 8), le(col("ser"), 4), le(col("seq2"), 4),
        lit("00000000"), // crc placeholder (not validated here)
        lpad(hex(col("nseg")), 2, "0"), lacingHex)
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(oggHex)
      val withPayload = base.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
      val isOgg = length(col("payload")) >= 28 &&
        expr("substring(h, 1, 8)") === "4F676753"
      withPayload
        .withColumn("is_ogg", isOgg)
        .withColumn("version", when(col("is_ogg"), leR(4, 1)))
        .withColumn("htp", when(col("is_ogg"), leR(5, 1)))
        .withColumn("continued", when(col("is_ogg"), col("htp") % 2 === 1))
        .withColumn("bos",
          when(col("is_ogg"), expr("htp DIV 2 % 2") === 1))
        .withColumn("eos",
          when(col("is_ogg"), expr("htp DIV 4 % 2") === 1))
        .withColumn("granule", when(col("is_ogg"), leR(6, 8)))
        .withColumn("serial", when(col("is_ogg"), leR(14, 4)))
        .withColumn("page_seq", when(col("is_ogg"), leR(18, 4)))
        .withColumn("n_segs", when(col("is_ogg"), leR(26, 1)))
        // the fold: payload size = sum of the n_segs lacing bytes that
        // FOLLOW the count — length unknown until n_segs is read
        .withColumn("payload_size", when(col("is_ogg"), expr(
          "aggregate(sequence(1, CAST(n_segs AS INT)), 0L, " +
            "(acc, i) -> acc + CAST(conv(" +
            "substring(h, 55 + 2 * (i - 1), 2), 16, 10) AS BIGINT))")))
        .select("doc_id", "is_ogg", "version", "continued", "bos",
          "eos", "granule", "serial", "page_seq", "n_segs",
          "payload_size")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // WebP RIFF parse — the VARIANT-DISPATCH member of the header
    // family: one container (RIFF + 'WEBP'), three payload formats
    // selected by the chunk FourCC, each with a different geometry
    // encoding — 'VP8 ' (lossy: 3-byte sync 9D 01 2A then u16 LE
    // width/height, 14 bits each), 'VP8L' (lossless: signature byte
    // 0x2F then width−1 and height−1 BIT-PACKED into one u32 LE, 14
    // bits each — the LE sibling of FLAC's sub-byte fields), 'VP8X'
    // (extended: u24 LE canvas−1 pair). A correct parse must read the
    // FourCC FIRST and route the byte arithmetic per variant — the
    // dispatch-on-content shape q_multimodal_tiff exercises for byte
    // order, here for payload layout. Fixture cycles all three
    // variants (doc_id % 3); every 5th doc sniff-rejects. Pure narrow
    // map over a binary column.
    "q_multimodal_webp" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .withColumn("w", (col("doc_id") % 1920 + 1).cast("long"))
        .withColumn("hp", ((col("doc_id") * 3) % 1080 + 1).cast("long"))
        .withColumn("v", (col("doc_id") % 3).cast("int"))
      val vp8 = concat(lit("56503820"), le(lit(10L), 4), // 'VP8 ', size
        lit("000000"), lit("9D012A"), // frame tag + sync code
        le(col("w"), 2), le(col("hp"), 2))
      val vp8l = concat(lit("5650384C"), le(lit(5L), 4), // 'VP8L'
        lit("2F"), // signature
        le(col("w") - 1L + (col("hp") - 1L) * 16384L, 4)) // 14+14 bits
      val vp8x = concat(lit("56503858"), le(lit(10L), 4), // 'VP8X'
        lit("02000000"), // flags + reserved
        le(col("w") - 1L, 3), le(col("hp") - 1L, 3))
      val chunk = when(col("v") === 0, vp8)
        .when(col("v") === 1, vp8l).otherwise(vp8x)
      val riffSize = when(col("v") === 1, lit(17L)).otherwise(lit(22L))
      val webpHex = concat(lit("52494646"), le(riffSize, 4),
        lit("57454250"), chunk)
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(webpHex)
      val withPayload = base.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
      val isWebp = length(col("payload")) >= 20 &&
        expr("substring(h, 1, 8)") === "52494646" &&
        expr("substring(h, 17, 8)") === "57454250"
      withPayload
        .withColumn("is_webp", isWebp)
        .withColumn("fourcc", when(col("is_webp"),
          expr("decode(unhex(substring(h, 25, 8)), 'UTF-8')")))
        .withColumn("chunk_size", when(col("is_webp"), leR(16, 4)))
        .withColumn("sig_ok", when(col("is_webp"),
          when(col("fourcc") === "VP8 ",
            expr("substring(h, 47, 6)") === "9D012A")
            .when(col("fourcc") === "VP8L",
              expr("substring(h, 41, 2)") === "2F")
            .when(col("fourcc") === "VP8X", lit(true))
            .otherwise(lit(false))))
        .withColumn("b32", when(col("fourcc") === "VP8L", leR(21, 4)))
        .withColumn("width", when(col("is_webp") && col("sig_ok"),
          when(col("fourcc") === "VP8 ", pmod(leR(26, 2), lit(16384L)))
            .when(col("fourcc") === "VP8L",
              pmod(col("b32"), lit(16384L)) + 1L)
            .when(col("fourcc") === "VP8X", leR(24, 3) + 1L)))
        .withColumn("height", when(col("is_webp") && col("sig_ok"),
          when(col("fourcc") === "VP8 ", pmod(leR(28, 2), lit(16384L)))
            .when(col("fourcc") === "VP8L",
              pmod(expr("b32 DIV 16384"), lit(16384L)) + 1L)
            .when(col("fourcc") === "VP8X", leR(27, 3) + 1L)))
        .select("doc_id", "is_webp", "fourcc", "chunk_size", "sig_ok",
          "width", "height")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // BMP BITMAPINFOHEADER parse — the SIGNED-integer member of the
    // header family: biHeight is an i32 whose sign encodes scan
    // direction (negative = top-down), so a correct parse must decode
    // two's complement from the u32 LE read (v ≥ 2³¹ → v − 2³²) —
    // unlike every other header here, where all fields are unsigned.
    // The fixture exercises both signs (every 3rd doc top-down) and
    // all six legal BI_RGB bit depths; every 5th doc carries non-BMP
    // bytes for the sniff-reject path. The parse is SELF-CHECKING:
    // row_stride re-derives from parsed width/bpp with the spec's
    // 4-byte alignment (((bpp·w + 31) DIV 32) · 4) and
    // size_consistent pins stride·|height| = biSizeImage and
    // fileSize = 54 + biSizeImage — the oracle then proves the whole
    // write→parse round trip. Pure narrow map over a binary column.
    // Parquet file envelope (the format's public spec: leading "PAR1"
    // magic, data pages, thrift footer, LE-u32 footer length, trailing
    // "PAR1") — the container this very engine reads all day, parsed
    // from ITS OWN trailer structure: the length word sits at a
    // DYNAMIC offset (len−8), so the reader derives positions from
    // octet_length instead of fixed offsets — the one envelope shape
    // the fixed-offset header family doesn't cover. Fixture: synthetic
    // envelopes with doc_id-derived body/footer sizes (every 5th doc a
    // decoy); parse validates both magics, reads the footer length
    // little-endian from the tail, and cross-checks that the footer
    // fits inside the envelope. Narrow maps, zero shuffles.
    "q_multimodal_parquet" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .withColumn("blen", (col("doc_id") % 64 + 8).cast("long"))
        .withColumn("flen", (col("doc_id") % 128 + 16).cast("long"))
      val pqHex = concat(lit("50415231"),
        expr("rpad('', CAST(2 * blen AS INT), 'AB')"),
        expr("rpad('', CAST(2 * flen AS INT), 'CD')"),
        le(col("flen"), 4),
        lit("50415231"))
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(pqHex)
      base.select(col("doc_id"), unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
        .withColumn("total_len",
          expr("CAST(octet_length(payload) AS BIGINT)"))
        .withColumn("is_parquet", col("total_len") >= 12L &&
          expr("substring(h, 1, 8)") === "50415231" &&
          expr("substring(h, length(h) - 7, 8)") === "50415231")
        .withColumn("footer_len", when(col("is_parquet"), expr(
          "CAST(conv(concat(" +
            "substring(h, length(h) - 9, 2), " +
            "substring(h, length(h) - 11, 2), " +
            "substring(h, length(h) - 13, 2), " +
            "substring(h, length(h) - 15, 2)), 16, 10) AS BIGINT)")))
        .withColumn("data_len", when(col("is_parquet"),
          col("total_len") - col("footer_len") - 12L))
        .withColumn("footer_fits", when(col("is_parquet"),
          col("footer_len") >= 0L && col("data_len") >= 0L))
        .select("doc_id", "is_parquet", "total_len", "footer_len",
          "data_len", "footer_fits")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // gzip member header (RFC 1952 §2.3) — the compression wrapper every
    // crawl archive transits: magic 1f 8b, CM=8 (deflate), FLG with the
    // FNAME bit, LE-u32 MTIME, XFL, OS byte, and the zero-terminated
    // original filename when FNAME is set. Fixture: deterministic
    // headers derived from doc_id (every-5th row is a non-gzip decoy
    // the parser must reject); parse validates magic+CM, reads MTIME
    // little-endian, maps the OS byte, and recovers the embedded
    // filename from the terminator-delimited hex slice. Pure narrow
    // maps over the binary column — zero shuffles until the final sort.
    "q_multimodal_gzip" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .withColumn("mt", (lit(1700000000L) + col("doc_id")).cast("long"))
        .withColumn("hasf", col("doc_id") % 2 === 0)
        .withColumn("xf",
          when(col("doc_id") % 4 === 0, lit(2L)).otherwise(lit(4L)))
        .withColumn("osb", element_at(
          array(lit(3L), lit(11L), lit(7L), lit(0L)),
          (col("doc_id") % 4 + 1).cast("int")))
        .withColumn("fn",
          concat(lit("d"), col("doc_id").cast("string"), lit(".txt")))
      val gzHex = concat(lit("1F8B08"),
        when(col("hasf"), lit("08")).otherwise(lit("00")),
        le(col("mt"), 4),
        lpad(hex(col("xf")), 2, "0"),
        lpad(hex(col("osb")), 2, "0"),
        when(col("hasf"),
          concat(hex(col("fn").cast("binary")), lit("00")))
          .otherwise(lit("")))
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(gzHex)
      base.select(col("doc_id"), unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
        .withColumn("is_gzip", length(col("payload")) >= 10 &&
          expr("substring(h, 1, 4)") === "1F8B" &&
          expr("substring(h, 5, 2)") === "08")
        .withColumn("flg", when(col("is_gzip"), expr(
          "CAST(conv(substring(h, 7, 2), 16, 10) AS BIGINT)")))
        .withColumn("mtime", when(col("is_gzip"), leR(4, 4)))
        .withColumn("xfl", when(col("is_gzip"), expr(
          "CAST(conv(substring(h, 17, 2), 16, 10) AS BIGINT)")))
        .withColumn("os_id", when(col("is_gzip"), expr(
          "CAST(conv(substring(h, 19, 2), 16, 10) AS BIGINT)")))
        .withColumn("os_name", when(col("is_gzip"), expr(
          "CASE os_id WHEN 0 THEN 'fat' WHEN 3 THEN 'unix' " +
            "WHEN 7 THEN 'macintosh' WHEN 11 THEN 'ntfs' " +
            "ELSE 'other' END")))
        .withColumn("has_fname",
          when(col("is_gzip"), expr("(flg div 8) % 2 = 1")))
        .withColumn("fname", when(col("is_gzip") && col("has_fname"),
          expr("decode(unhex(substring(h, 21, length(h) - 22)), " +
            "'UTF-8')")))
        .select("doc_id", "is_gzip", "mtime", "xfl", "os_id", "os_name",
          "has_fname", "fname")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // EBML/WebM header (RFC 8794 + the WebM DocType convention) — the
    // container wrapping web video crawls: magic 0x1A45DFA3 (the EBML
    // element ID), then the header SIZE as an EBML VARINT — the family's
    // first VARIABLE-WIDTH integer: the leading byte's first set bit
    // encodes the width (0b1xxxxxxx = 1 byte … 0b0001xxxx = 4), and the
    // value is the remaining 7·w bits. Fixture: widths 1–4 cycle by
    // doc_id, the header carries one DocType element (ID 0x4282,
    // "webm"/"matroska"), every-5th row is a text decoy (ASCII can't
    // start 0x1A). Parse: width from the leading-byte CASE ladder,
    // value = big-endian slice minus the marker bit 2^(7w), DocType
    // recovered at the width-shifted offset. Pure narrow maps.
    "q_multimodal_webm" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .withColumn("w", (col("doc_id") % 4 + 1).cast("int"))
        .withColumn("dt", when(col("doc_id") % 3 === 0, lit("matroska"))
          .otherwise(lit("webm")))
        .withColumn("dlen", length(col("dt")).cast("long"))
        .withColumn("clen", col("dlen") + 3L)
      val sizeHex = expr(
        "lpad(hex(shiftleft(CAST(1 AS BIGINT), 7 * w) + clen), " +
          "CAST(2 * w AS INT), '0')")
      val ebmlHex = concat(lit("1A45DFA3"), sizeHex,
        lit("4282"), expr("lpad(hex(128 + dlen), 2, '0')"),
        hex(col("dt").cast("binary")))
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(ebmlHex)
      base.select(col("doc_id"), unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
        .withColumn("is_ebml", length(col("payload")) >= 5 &&
          expr("substring(h, 1, 8)") === "1A45DFA3")
        .withColumn("sb", when(col("is_ebml"), expr(
          "CAST(conv(substring(h, 9, 2), 16, 10) AS BIGINT)")))
        .withColumn("size_width", when(col("is_ebml"), expr(
          "CAST(CASE WHEN sb >= 128 THEN 1 WHEN sb >= 64 THEN 2 " +
            "WHEN sb >= 32 THEN 3 WHEN sb >= 16 THEN 4 END AS BIGINT)")))
        .withColumn("header_size", when(col("is_ebml"), expr(
          "CAST(conv(substring(h, 9, CAST(2 * size_width AS INT)), " +
            "16, 10) AS BIGINT) " +
            "- shiftleft(CAST(1 AS BIGINT), CAST(7 * size_width AS INT))")))
        .withColumn("dt_ok", when(col("is_ebml"), expr(
          "substring(h, CAST(9 + 2 * size_width AS INT), 4) = '4282'")))
        .withColumn("dt_len", when(col("is_ebml") && col("dt_ok"), expr(
          "CAST(conv(substring(h, CAST(13 + 2 * size_width AS INT), 2), " +
            "16, 10) AS BIGINT) - 128")))
        .withColumn("doctype", when(col("is_ebml") && col("dt_ok"), expr(
          "decode(unhex(substring(h, CAST(15 + 2 * size_width AS INT), " +
            "CAST(2 * dt_len AS INT))), 'UTF-8')")))
        .withColumn("is_webm", when(col("is_ebml") && col("dt_ok"),
          col("doctype") === "webm"))
        .select("doc_id", "is_ebml", "size_width", "header_size",
          "dt_ok", "doctype", "is_webm")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    "q_multimodal_bmp" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val base = docs.select(col("doc_id"), col("text"))
        .withColumn("w", (col("doc_id") % 1920 + 1).cast("long"))
        .withColumn("hr", ((col("doc_id") * 3) % 1080 + 1).cast("long"))
        .withColumn("td", col("doc_id") % 3 === 0)
        .withColumn("bpp", element_at(
          array(lit(1L), lit(4L), lit(8L), lit(16L), lit(24L), lit(32L)),
          (col("doc_id") % 6 + 1).cast("int")))
        .withColumn("stride", expr("((bpp * w + 31) DIV 32) * 4"))
        .withColumn("isz", col("stride") * col("hr"))
        .withColumn("hf", when(col("td"), lit(4294967296L) - col("hr"))
          .otherwise(col("hr")))
      val bmpHex = concat(lit("424D"),
        le(col("isz") + 54L, 4), // bfSize
        lit("00000000"), // reserved
        le(lit(54L), 4), // bfOffBits
        le(lit(40L), 4), // biSize
        le(col("w"), 4), le(col("hf"), 4),
        le(lit(1L), 2), // biPlanes
        le(col("bpp"), 2),
        lit("00000000"), // BI_RGB
        le(col("isz"), 4),
        le(lit(2835L), 4), le(lit(2835L), 4), // 72 DPI in ppm
        lit("0000000000000000")) // clrUsed, clrImportant
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(bmpHex)
      val withPayload = base.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
      val isBmp = length(col("payload")) >= 54 &&
        expr("substring(h, 1, 4)") === "424D"
      withPayload
        .withColumn("is_bmp", isBmp)
        .withColumn("file_size", when(col("is_bmp"), leR(2, 4)))
        .withColumn("data_offset", when(col("is_bmp"), leR(10, 4)))
        .withColumn("width", when(col("is_bmp"), leR(18, 4)))
        .withColumn("h_raw", when(col("is_bmp"), leR(22, 4)))
        .withColumn("top_down",
          when(col("is_bmp"), col("h_raw") >= 2147483648L))
        .withColumn("height", when(col("is_bmp"),
          when(col("top_down"), lit(4294967296L) - col("h_raw"))
            .otherwise(col("h_raw"))))
        .withColumn("bits_per_pixel", when(col("is_bmp"), leR(28, 2)))
        .withColumn("img_size", when(col("is_bmp"), leR(34, 4)))
        .withColumn("row_stride", when(col("is_bmp"),
          expr("((bits_per_pixel * width + 31) DIV 32) * 4")))
        .withColumn("size_consistent", when(col("is_bmp"),
          col("row_stride") * col("height") === col("img_size")
            && col("file_size") === col("img_size") + 54L
            && col("data_offset") === 54L))
        .select("doc_id", "is_bmp", "width", "height", "top_down",
          "bits_per_pixel", "row_stride", "img_size", "size_consistent")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // PNG signature + IHDR parse — the BIG-endian member of the header
    // family (PNG is network byte order throughout, so reads are plain
    // hex slices with no byte reversal): an 8-byte signature, the
    // 13-byte IHDR chunk (u32 BE width/height, bit depth, color type,
    // compression, filter, interlace) built from doc fields and parsed
    // back at spec offsets; every 5th doc carries non-PNG bytes for the
    // sniff-reject path. Channel count derives from the color type by
    // the spec table (0→1, 2→3, 3→1, 4→2, 6→4) and bits-per-pixel is
    // depth × channels — all integer CASE arithmetic, engine-identical.
    // Pure narrow map over a binary column.
    "q_multimodal_png" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val wpx = (col("doc_id") % 1920 + 1).cast("int")
      val hpx = ((col("doc_id") * 3) % 1080 + 1).cast("int")
      // valid color types, all legal at bit depth 8
      val ct = element_at(array(lit(0), lit(2), lit(3), lit(4), lit(6)),
        (col("doc_id") % 5 + 1).cast("int")).cast("int")
      val il = (col("doc_id") % 2).cast("int")
      def be(v: Column, n: Int): Column = lpad(hex(v), 2 * n, "0")
      val pngHex = concat(
        lit("89504E470D0A1A0A"), // signature
        lit("0000000D"), lit("49484452"), // IHDR length + type
        be(wpx, 4), be(hpx, 4),
        lit("08"), be(ct, 1), // bit depth 8, color type
        lit("0000"), be(il, 1)) // compression, filter, interlace
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(pngHex)
      val withPayload = docs.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
      def beRead(off: Int, n: Int): Column = expr(
        s"CAST(conv(substring(hex(payload), ${2 * off - 1}, ${2 * n}), " +
          "16, 10) AS BIGINT)")
      val isPng = length(col("payload")) >= 29 &&
        expr("substring(hex(payload), 1, 16)") === "89504E470D0A1A0A"
      def f(c: Column) = when(isPng, c)
      withPayload.select(
        col("doc_id"),
        isPng.as("is_png"),
        f(beRead(17, 4)).as("width"),
        f(beRead(21, 4)).as("height"),
        f(beRead(25, 1)).as("bit_depth"),
        f(beRead(26, 1)).as("color_type"),
        f(beRead(29, 1)).as("interlace"))
        .withColumn("n_channels", expr(
          "CASE color_type WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1 " +
            "WHEN 4 THEN 2 WHEN 6 THEN 4 END"))
        .withColumn("bits_per_pixel",
          (col("bit_depth") * col("n_channels")).cast("long"))
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // MP3 ID3v2 tag-header parse — the SYNCSAFE-integer member of the
    // header family: the 4-byte tag size stores 7 bits per byte (high
    // bit always 0 so the size can never alias an MPEG frame sync), so
    // the decode is b0·2²¹ + b1·2¹⁴ + b2·2⁷ + b3 — integer products,
    // engine-identical, unlike the plain BE/LE reads of PNG/GIF/WAV.
    // Header: "ID3", version major (3|4) + revision, flags, syncsafe
    // size; audio_offset = 10 + tag_size is where the codec would seek.
    // Every 5th doc carries non-MP3 bytes for the sniff-reject path.
    // Pure narrow map over a binary column.
    "q_multimodal_mp3" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val ver = (col("doc_id") % 2 + 3).cast("int")
      val tagSize = ((col("doc_id") * 97) % 100000).cast("long")
      def ss(shift: Int): Column =
        lpad(hex(shiftright(tagSize, shift) % 128), 2, "0")
      val mp3Hex = concat(lit("494433"),
        lpad(hex(ver), 2, "0"), lit("00"), lit("00"),
        ss(21), ss(14), ss(7), ss(0))
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(mp3Hex)
      val withPayload = docs.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
      def byteAt(off: Int): Column = expr(
        s"CAST(conv(substring(hex(payload), ${2 * off - 1}, 2), " +
          "16, 10) AS BIGINT)")
      val isMp3 = length(col("payload")) >= 10 &&
        expr("substring(hex(payload), 1, 6)") === "494433"
      def f(c: Column) = when(isMp3, c)
      withPayload.select(
        col("doc_id"),
        isMp3.as("is_mp3"),
        f(byteAt(4)).as("ver_major"),
        f(byteAt(7) * lit(2097152L) + byteAt(8) * lit(16384L)
          + byteAt(9) * lit(128L) + byteAt(10)).as("tag_size"))
        .withColumn("audio_offset", lit(10L) + col("tag_size"))
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // FLAC STREAMINFO parse — the first header whose fields are NOT
    // byte-aligned: the trailing 8-byte pack holds sample rate (20
    // bits), channels−1 (3 bits), bits-per-sample−1 (5 bits) and total
    // samples (36 bits), so a correct parse must extract SUB-BYTE bit
    // fields with shift/mask arithmetic — byte-sliced reads (every
    // other member of the family) cannot decode it. The pack is read
    // as two u32 BE halves (a single u64 read could overflow signed
    // BIGINT), then sr = hi>>12, ch = ((hi>>9)&7)+1, bps = ((hi>>4)&31)+1,
    // total = (hi&15)·2³² + lo — integer ops, engine-identical. Layout:
    // "fLaC", block header (last-flag|type=0, u24 BE length 34), u16
    // min/max blocksize, u24 min/max framesize, the 8-byte pack. Every
    // 5th doc carries non-FLAC bytes for the sniff-reject path. Pure
    // narrow map over a binary column.
    "q_multimodal_flac" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val sr = (when(col("doc_id") % 4 === 0, 8000)
        .when(col("doc_id") % 4 === 1, 16000)
        .when(col("doc_id") % 4 === 2, 44100)
        .otherwise(48000)).cast("long")
      val ch = (col("doc_id") % 2 + 1).cast("long")
      val bps = (when(col("doc_id") % 3 === 0, 16).otherwise(24))
        .cast("long")
      val tot = (col("n_chars") * 1000).cast("long") // < 2^36
      val hi = shiftleft(sr, 12) + shiftleft(ch - 1, 9) +
        shiftleft(bps - 1, 4) + shiftright(tot, 32)
      val lo = tot % 4294967296L
      def be(v: Column, n: Int): Column = lpad(hex(v), 2 * n, "0")
      val flacHex = concat(lit("664C6143"), // "fLaC"
        lit("80"), lit("000022"), // last-block flag + type 0, len 34
        be(lit(1024L), 2), be(lit(4096L), 2), // min/max blocksize
        be(lit(1000L), 3), be(lit(60000L), 3), // min/max framesize
        be(hi, 4), be(lo, 4))
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(flacHex)
      val withPayload = docs.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
      def beRead(off: Int, n: Int): Column = expr(
        s"CAST(conv(substring(h, ${2 * off + 1}, ${2 * n}), 16, 10) " +
          "AS BIGINT)")
      val isFlac = length(col("payload")) >= 26 &&
        expr("substring(h, 1, 8)") === "664C6143"
      withPayload
        .withColumn("is_flac", isFlac)
        .withColumn("min_blocksize", when(col("is_flac"), beRead(8, 2)))
        .withColumn("max_blocksize", when(col("is_flac"), beRead(10, 2)))
        .withColumn("hi", when(col("is_flac"), beRead(18, 4)))
        .withColumn("lo", when(col("is_flac"), beRead(22, 4)))
        .withColumn("sample_rate", expr("shiftright(hi, 12)"))
        .withColumn("channels", expr("shiftright(hi, 9) % 8 + 1"))
        .withColumn("bits_per_sample", expr("shiftright(hi, 4) % 32 + 1"))
        .withColumn("total_samples",
          expr("(hi % 16) * 4294967296 + lo"))
        .withColumn("duration_ms", expr(
          "CASE WHEN is_flac THEN total_samples * 1000 DIV sample_rate " +
            "END"))
        .select("doc_id", "is_flac", "min_blocksize", "max_blocksize",
          "sample_rate", "channels", "bits_per_sample", "total_samples",
          "duration_ms")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // ZIP local-file-header parse — the first member of the header
    // family whose STRING field sits at a fixed offset but whose DATA
    // offset is data-dependent twice over (30 + filename length +
    // extra length, both read from the header): a correct parse must
    // chain two little-endian u16 reads into the substring arithmetic
    // before it can touch the member bytes — the PKWARE APPNOTE local
    // header layout (magic PK\x03\x04, version, flags, method,
    // modtime/moddate, crc32, compressed/uncompressed sizes u32 LE,
    // name/extra lengths u16 LE, then name, extra, data). The fixture
    // derives every field from doc columns (the variable-length
    // filename comes from `source`, the 0–3 byte extra field from
    // doc_id) and every 5th doc carries non-ZIP bytes for the
    // sniff-reject path. Pure narrow map over a binary column.
    "q_multimodal_zip" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val method = (col("doc_id") % 2 * 8).cast("int")
      val mtime = (col("doc_id") % 65536).cast("int")
      val mdate = (col("doc_id") * 3 % 65536).cast("int")
      val crc = (col("doc_id") * 2654435761L % 4294967296L).cast("long")
      val usize = col("n_chars").cast("int")
      val csize = when(method === 0, usize)
        .otherwise(expr("CAST(n_chars DIV 2 + 1 AS INT)"))
      val fname = concat(col("source"), lit(".txt"))
      // APPNOTE's name-length field counts BYTES of the stored name;
      // the header stores UTF-8 bytes (hex(fname AS BINARY)), so fnlen
      // must be the octet length — a character count would understate
      // it for any non-ASCII source name, declaring a spec-invalid
      // header and mis-offsetting the data slice on BOTH engines
      // identically (a hash-match-invisible defect).
      val fnlen = length(fname.cast("binary")).cast("int")
      val xlen = (col("doc_id") % 4).cast("int")
      val zipHex = concat(lit("504B0304"), lit("1400"), lit("0000"),
        le(method, 2), le(mtime, 2), le(mdate, 2), le(crc, 4),
        le(csize, 4), le(usize, 4), le(fnlen, 2), le(xlen, 2),
        hex(fname.cast("binary")),
        expr("repeat('00', CAST(doc_id % 4 AS INT))"),
        hex(substring(col("text"), 1, 6).cast("binary")))
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(zipHex)
      val withPayload = docs.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
        .withColumn("h", hex(col("payload")))
      val isZip = length(col("payload")) >= 30 &&
        expr("substring(h, 1, 8)") === "504B0304"
      withPayload
        .withColumn("is_zip", isZip)
        .withColumn("method", when(col("is_zip"), leR(8, 2)))
        .withColumn("csize", when(col("is_zip"), leR(18, 4)))
        .withColumn("usize", when(col("is_zip"), leR(22, 4)))
        .withColumn("fnlen", when(col("is_zip"), leR(26, 2)))
        .withColumn("xlen", when(col("is_zip"), leR(28, 2)))
        .withColumn("fname", when(col("is_zip"), expr(
          "decode(unhex(substring(h, 61, CAST(2 * fnlen AS INT))), " +
            "'UTF-8')")))
        .withColumn("data_head_hex", when(col("is_zip"), expr(
          "substring(h, CAST(61 + 2 * fnlen + 2 * xlen AS INT), 12)")))
        .withColumn("stored", when(col("is_zip"), col("method") === 0))
        .select("doc_id", "is_zip", "method", "csize", "usize",
          "fname", "data_head_hex", "stored")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // PDF shell parse — the ASCII-STRUCTURED header-family member
    // (every other member reads fixed binary offsets; PDF's skeleton is
    // text keywords + a byte-offset pointer): "%PDF-1.x" version sniff,
    // the trailer's /Size object count, and the startxref pointer —
    // which the parse then FOLLOWS, verifying the bytes at the declared
    // offset really spell "xref" (offset_consistent), the structural
    // integrity check a real ingest uses to reject truncated PDFs.
    // Fixture: a spec-shaped shell (header, body carrying the doc's
    // own text, xref section, trailer) assembled from doc fields with
    // the startxref offset DERIVED from the assembled lengths; every
    // 5th doc sniff-rejects on the raw text. Extraction is anchored
    // regex + substring arithmetic — identical semantics both engines.
    "q_multimodal_pdf" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val vchar = when(col("doc_id") % 3 === 0, "4")
        .when(col("doc_id") % 3 === 1, "5").otherwise("7")
      val nObj = (col("doc_id") % 9 + 1).cast("int")
      val header = concat(lit("%PDF-1."), vchar, lit("\n"))
      val body = concat(lit("BODY:"),
        substring(col("text"), 1, 20), lit("\n"))
      val xref = concat(lit("xref\n0 "),
        (nObj + 1).cast("string"), lit("\n"))
      val off = (length(header) + length(body)).cast("long")
      val trailer = concat(lit("trailer<</Size "),
        (nObj + 1).cast("string"), lit(">>\nstartxref\n"),
        off.cast("string"), lit("\n%%EOF"))
      val pdfDoc = concat(header, body, xref, trailer)
      val payload = when(col("doc_id") % 5 === 0, col("text"))
        .otherwise(pdfDoc)
      val withPayload = docs.select(col("doc_id"), payload.as("blob"))
      // parse — everything below reads ONLY (doc_id, blob)
      val isPdf = expr("substring(blob, 1, 5)") === "%PDF-" &&
        expr("substring(blob, length(blob) - 4, 5)") === "%%EOF"
      def f(c: Column) = when(isPdf, c)
      withPayload.select(
          col("doc_id"),
          isPdf.as("is_pdf"),
          f(expr("substring(blob, 6, 3)")).as("version"),
          f(expr("CAST(regexp_extract(blob, " +
            "'/Size ([0-9]+)>>', 1) AS BIGINT)")).as("size_objs"),
          f(expr("CAST(regexp_extract(blob, " +
            "'startxref\\n([0-9]+)\\n%%EOF$', 1) AS BIGINT)"))
            .as("startxref"),
          col("blob"))
        .withColumn("offset_consistent",
          when(col("is_pdf"),
            expr("substring(blob, CAST(startxref + 1 AS INT), 4)")
              === "xref"))
        .select("doc_id", "is_pdf", "version", "size_objs",
          "startxref", "offset_consistent")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    "q_multimodal_wav" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val ch = (col("doc_id") % 2 + 1).cast("int")
      val sr = (when(col("doc_id") % 3 === 0, 8000)
        .when(col("doc_id") % 3 === 1, 16000)
        .otherwise(44100)).cast("int")
      val dataBytes = (col("n_chars") * 4).cast("int")
      val byteRate = (sr * ch * lit(2)).cast("int")
      // little-endian hex of an n-byte integer: pad, then reverse bytes
      val wavHex = concat(
        lit("52494646"), le(dataBytes + 36, 4), // "RIFF", riff size
        lit("57415645"), // "WAVE"
        lit("666D7420"), le(lit(16), 4), // "fmt ", PCM chunk size
        le(lit(1), 2), le(ch, 2), // format=PCM, channels
        le(sr, 4), le(byteRate, 4), // sample rate, byte rate
        le(ch * lit(2), 2), le(lit(16), 2), // block align, bits/sample
        lit("64617461"), le(dataBytes, 4)) // "data", data size
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(wavHex)
      val withPayload = docs.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
      // parse — everything below reads ONLY (doc_id, payload)
      val isWav = length(col("payload")) >= 44 &&
        expr("substring(hex(payload), 1, 8)") === "52494646" &&
        expr("substring(hex(payload), 17, 8)") === "57415645"
      def f(c: Column) = when(isWav, c)
      withPayload.select(
        col("doc_id"),
        isWav.as("is_wav"),
        f(leRead(23, 2)).as("n_channels"),
        f(leRead(25, 4)).as("sample_rate"),
        f(leRead(29, 4)).as("byte_rate"),
        f(leRead(35, 2)).as("bits_per_sample"),
        f(leRead(41, 4)).as("data_bytes"))
        .withColumn("duration_ms",
          expr("data_bytes * 1000 DIV byte_rate"))
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // Standard MIDI File header parse (r13; the MIDI 1.0 / SMF public
    // spec): "MThd" + u32 BE length (must be 6) + format/ntracks u16 BE
    // + division, then the first "MTrk" chunk length. The DIVISION
    // field is the family's first SIGNED-BYTE MODE DISPATCH: bit 15 = 0
    // → ticks-per-quarter-note (PPQ, the u15 value); bit 15 = 1 →
    // SMPTE, whose HIGH byte is a TWO'S-COMPLEMENT NEGATIVE frame rate
    // (0xE8/0xE7/0xE3/0xE2 = −24/−25/−29/−30; decoded fps = 256 − byte)
    // and whose low byte is ticks-per-frame — a wrong unsigned read
    // yields fps 232, loudly absurd. Spec-correct fixture: format 0
    // forces ntracks 1 (the spec's own constraint), PPQ and SMPTE docs
    // alternate, every 5th doc is a text decoy the sniff rejects (8
    // bytes < the 22-byte minimum). Pure narrow map over the binary
    // column, zero shuffles until the terminal sort.
    "q_multimodal_midi" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      def be(v: Column, n: Int): Column = lpad(hex(v), 2 * n, "0")
      val fmt = (col("doc_id") % 3).cast("int")
      val ntrks = when(fmt === 0, 1)
        .otherwise((col("doc_id") % 4 + 1).cast("int"))
      val isSmpte = col("doc_id") % 2 === 1
      val ppq = (when(col("doc_id") % 3 === 0, 96)
        .when(col("doc_id") % 3 === 1, 192)
        .otherwise(480)).cast("int")
      val fpsByte = (when(col("doc_id") % 4 === 0, 232) // −24
        .when(col("doc_id") % 4 === 1, 231) // −25
        .when(col("doc_id") % 4 === 2, 227) // −29
        .otherwise(226)).cast("int") // −30
      val tpf = ((col("doc_id") % 3 + 1) * 40).cast("int")
      val divisionHex = when(isSmpte,
        concat(be(fpsByte, 1), be(tpf, 1))).otherwise(be(ppq, 2))
      val midiHex = concat(
        lit("4D546864"), lit("00000006"), // "MThd", length 6
        be(fmt, 2), be(ntrks, 2), divisionHex,
        lit("4D54726B"), be((col("n_chars") * 3).cast("int"), 4))
      val textHex = hex(substring(col("text"), 1, 8).cast("binary"))
      val payloadHex = when(col("doc_id") % 5 === 0, textHex)
        .otherwise(midiHex)
      val withPayload = docs.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
      def beRead(off: Int, n: Int): Column = expr(
        s"CAST(conv(substring(hex(payload), ${2 * off - 1}, ${2 * n}), " +
          "16, 10) AS BIGINT)")
      val isMidi = length(col("payload")) >= 22 &&
        expr("substring(hex(payload), 1, 8)") === "4D546864" &&
        beRead(5, 4) === 6 &&
        expr("substring(hex(payload), 29, 8)") === "4D54726B"
      def f(c: Column) = when(isMidi, c)
      withPayload.select(
        col("doc_id"),
        isMidi.as("is_midi"),
        f(beRead(9, 2)).as("mformat"),
        f(beRead(11, 2)).as("n_tracks"),
        f(when(beRead(13, 1) >= 128, "smpte").otherwise("ppq"))
          .as("division_mode"),
        f(when(beRead(13, 1) < 128,
          beRead(13, 1) * 256 + beRead(14, 1))).as("ticks_per_quarter"),
        f(when(beRead(13, 1) >= 128, lit(256L) - beRead(13, 1)))
          .as("smpte_fps"),
        f(when(beRead(13, 1) >= 128, beRead(14, 1)))
          .as("ticks_per_frame"),
        f(beRead(19, 4)).as("track_bytes"))
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // Video frame sampling — the "pick k frames per clip" stage of a
    // multimodal training pipeline, with the Spark-side plumbing real
    // and the codec stubbed exactly like q_multimodal_headers: a
    // GRFT-magic header carrying (duration_ms, fps) is built as a
    // binary column, parsed back by byte offset, and the sample
    // schedule derives ONLY from the parsed fields. Eight uniform
    // frame indices floor(i·n_frames/8) and their µs-exact integer
    // timestamps floor(idx·1000/fps) — all BIGINT floor division,
    // serialized to CSV scalars (arrays crash the driver's checker).
    // Pure narrow map: no shuffle until the terminal sort.
    "q_multimodal_framesample" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val durMs = (col("n_chars") * 100).cast("int")
      val fps = (when(col("doc_id") % 3 === 0, 24)
        .when(col("doc_id") % 3 === 1, 25)
        .otherwise(30)).cast("int")
      val payloadHex = concat(lit("47524654"), // "GRFT" magic
        lpad(hex(durMs), 8, "0"), lpad(hex(fps), 4, "0"))
      val withPayload = docs.select(col("doc_id"),
        unhex(payloadHex).as("payload"))
      def be(off: Int, n: Int) =
        expr(s"CAST(conv(substring(hex(payload), ${2 * off - 1}, ${2 * n})," +
          " 16, 10) AS BIGINT)")
      withPayload
        .withColumn("duration_ms", be(5, 4))
        .withColumn("fps", be(9, 2))
        .withColumn("n_frames",
          expr("duration_ms * fps DIV 1000"))
        .select(col("doc_id"), col("duration_ms"), col("fps"),
          col("n_frames"),
          expr("array_join(transform(sequence(0, 7), " +
            "i -> (i * n_frames) DIV 8), ',')").as("sample_frames"),
          expr("array_join(transform(sequence(0, 7), " +
            "i -> (((i * n_frames) DIV 8) * 1000) DIV fps), ',')")
            .as("sample_ts_ms"))
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // ISO-BMFF (MP4) box walk — the CONTAINER member of the header
    // family, and the first parse whose field offsets are
    // DATA-DEPENDENT: boxes are [u32 size][4CC type][payload] laid out
    // sequentially, so box N+1's offset is the running sum of declared
    // sizes — the walk reads size-at-offset, jumps, repeats (PNG/JFIF/
    // WAV above parse at fixed offsets). Fixture payload: ftyp with a
    // VARIABLE-length compatible-brand list (20/24/28 bytes — every
    // later offset shifts per doc), a free box with doc-derived
    // padding, and the 8-byte mdat HEADER (its declared size counts
    // media data not materialized here, exactly like a real
    // header-scan that never fetches the mdat body). Every 6th doc
    // carries non-MP4 bytes for the sniff-reject path. Parse side
    // reads ONLY (doc_id, payload); dynamic offsets go through
    // substring(hex, computed_pos) — pure narrow map, no shuffle
    // until the terminal sort.
    "q_multimodal_mp4" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      val built = docs.selectExpr("doc_id",
        "CAST(20 + (doc_id % 3) * 4 AS INT) AS fsz",
        "CAST(8 + (n_chars % 16) AS INT) AS zsz",
        "CAST(n_chars + 8 AS INT) AS msz",
        "CAST(n_chars % 16 AS INT) AS zpad",
        "hex(CAST(substring(text, 1, 8) AS BINARY)) AS th")
        .selectExpr("doc_id",
          "CASE WHEN doc_id % 6 = 0 THEN th ELSE concat(" +
            "lpad(hex(fsz), 8, '0'), '66747970', '69736F6D', '00000200', " +
            // brands: "mp41" + 0-2 extras ("iso2", "isom")
            "substring('6D70343169736F3269736F6D', 1, " +
            "CAST((doc_id % 3) * 8 + 8 AS INT)), " +
            "lpad(hex(zsz), 8, '0'), '66726565', repeat('00', zpad), " +
            "lpad(hex(msz), 8, '0'), '6D646174') END AS ph")
        .selectExpr("doc_id", "unhex(ph) AS payload")
      // parse — everything below reads ONLY (doc_id, payload)
      built.selectExpr("doc_id", "payload", "hex(payload) AS h")
        .selectExpr("doc_id", "h",
          "CAST(length(payload) AS BIGINT) AS n_bytes",
          "length(payload) >= 16 AND substring(h, 9, 8) = '66747970' " +
            "AS is_mp4")
        .selectExpr("doc_id", "h", "n_bytes", "is_mp4",
          "CASE WHEN is_mp4 THEN " +
            "CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT) END AS s1")
        .selectExpr("doc_id", "h", "n_bytes", "is_mp4", "s1",
          "CASE WHEN is_mp4 THEN CAST(conv(substring(h, " +
            "CAST(2 * s1 + 1 AS INT), 8), 16, 10) AS BIGINT) END AS s2")
        .selectExpr("doc_id", "h", "n_bytes", "is_mp4", "s1", "s2",
          "CASE WHEN is_mp4 THEN CAST(conv(substring(h, " +
            "CAST(2 * (s1 + s2) + 1 AS INT), 8), 16, 10) AS BIGINT) " +
            "END AS s3")
        .selectExpr("doc_id", "is_mp4",
          "CASE WHEN is_mp4 THEN decode(unhex(substring(h, 17, 8)), " +
            "'UTF-8') END AS major_brand",
          "CASE WHEN is_mp4 THEN concat_ws(',', " +
            "decode(unhex(substring(h, 9, 8)), 'UTF-8'), " +
            "decode(unhex(substring(h, CAST(2 * s1 + 9 AS INT), 8)), " +
            "'UTF-8'), " +
            "decode(unhex(substring(h, CAST(2 * (s1 + s2) + 9 AS INT), " +
            "8)), 'UTF-8')) END AS boxes_csv",
          "CASE WHEN is_mp4 THEN s3 END AS mdat_declared",
          "CASE WHEN is_mp4 THEN s1 + s2 + s3 END AS declared_total",
          "n_bytes")
        .orderBy(asc_nulls_last("doc_id"))
    }),

    // TIFF/EXIF header walk — the first parse whose BYTE ORDER is
    // data-dependent: the leading II/MM marker decides whether every
    // subsequent multi-byte field reads little- or big-endian, so one
    // query exercises both endian paths AND the dispatch between them
    // (PNG/JFIF are fixed-BE, WAV fixed-LE). The fixture is a
    // spec-correct classic-TIFF header: II/MM + magic 42 + a u32 IFD
    // offset that VARIES per doc (0–6 pad bytes before the IFD — a
    // correct parse must read the offset in the right byte order and
    // jump, a wrong-endian read lands mid-pad and breaks loudly), then
    // an IFD with a VARIABLE entry count (3 or 4 twelve-byte entries,
    // all type LONG so the 4-byte value field is endian-clean) and the
    // terminating next-IFD pointer. Field extraction scans entries BY
    // TAG (256/257/259/282), not by fixed slot. Every 5th doc carries
    // text bytes for the sniff-reject path. Pure narrow map — zero
    // shuffles until the terminal sort; at 100 TB this is the
    // embarrassingly-parallel metadata-scan shape.
    "q_multimodal_tiff" -> ((s, d) => {
      val docs = graft.Tables.table(s, d, "documents")
      def beS(e: String, n: Int) = s"lpad(hex($e), ${2 * n}, '0')"
      def leS(e: String, n: Int) = {
        val b = beS(e, n)
        ((n - 1) to 0 by -1)
          .map(i => s"substring($b, ${2 * i + 1}, 2)")
          .mkString("concat(", ", ", ")")
      }
      // one IFD entry, type LONG (4), count 1, in each byte order
      def entBe(tag: Int, v: String) =
        s"concat(${beS(tag.toString, 2)}, '0004', '00000001', ${beS(v, 4)})"
      def entLe(tag: Int, v: String) =
        s"concat(${leS(tag.toString, 2)}, '0400', '01000000', ${leS(v, 4)})"
      val w = "CAST(n_chars AS BIGINT)"
      val hgt = "CAST(n_chars DIV 2 + 1 AS BIGINT)"
      val cmp = "CAST(1 + doc_id % 2 AS BIGINT)"
      val xr = "CAST(300 AS BIGINT)"
      def ifd(le: Boolean) = {
        val ent = if (le) entLe _ else entBe _
        val cnt = // 3 entries, 4 when doc_id % 3 = 0
          s"CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)"
        val n2 = if (le) leS(cnt, 2) else beS(cnt, 2)
        s"concat($n2, ${ent(256, w)}, ${ent(257, hgt)}, ${ent(259, cmp)}, " +
          s"CASE WHEN doc_id % 3 = 0 THEN ${ent(282, xr)} ELSE '' END, " +
          "'00000000')"
      }
      val ifdOff = "CAST(8 + (doc_id % 4) * 2 AS BIGINT)"
      val pad = "repeat('00', CAST((doc_id % 4) * 2 AS INT))"
      val leFull = s"concat('4949', '2A00', ${leS(ifdOff, 4)}, $pad, " +
        s"${ifd(le = true)})"
      val beFull = s"concat('4D4D', '002A', ${beS(ifdOff, 4)}, $pad, " +
        s"${ifd(le = false)})"
      val built = docs.selectExpr("doc_id",
        "CASE WHEN doc_id % 5 = 0 THEN " +
          "hex(CAST(substring(text, 1, 8) AS BINARY)) " +
          s"WHEN doc_id % 2 = 0 THEN $leFull ELSE $beFull END AS ph")
        .selectExpr("doc_id", "unhex(ph) AS payload")
      // parse — everything below reads ONLY (doc_id, payload)
      def beR(posE: String, n: Int) =
        s"CAST(conv(substring(h, CAST($posE AS INT), ${2 * n}), 16, 10) " +
          "AS BIGINT)"
      def leR(posE: String, n: Int) =
        s"CAST(conv(concat(${((n - 1) to 0 by -1)
          .map(k => s"substring(h, CAST(($posE) + ${2 * k} AS INT), 2)")
          .mkString(", ")}), 16, 10) AS BIGINT)"
      def rd(posE: String, n: Int) =
        s"CASE WHEN is_le THEN ${leR(posE, n)} ELSE ${beR(posE, n)} END"
      val slots = 0 until 4
      val parsed = built
        .selectExpr("doc_id", "hex(payload) AS h",
          "length(payload) >= 8 AND substring(hex(payload), 1, 8) IN " +
            "('49492A00', '4D4D002A') AS is_tiff",
          "substring(hex(payload), 1, 4) = '4949' AS is_le")
        .selectExpr("doc_id", "h", "is_tiff", "is_le",
          s"CASE WHEN is_tiff THEN ${rd("9", 4)} END AS ifd_off")
        .selectExpr("doc_id", "h", "is_tiff", "is_le", "ifd_off",
          s"CASE WHEN is_tiff THEN ${rd("2 * ifd_off + 1", 2)} END " +
            "AS n_entries")
        .selectExpr(Seq("doc_id", "h", "is_tiff", "is_le", "n_entries") ++
          slots.flatMap { i =>
            val base = s"ifd_off + 2 + ${12 * i}"
            Seq(
              s"CASE WHEN is_tiff AND $i < n_entries THEN " +
                s"${rd(s"2 * ($base) + 1", 2)} END AS tag_$i",
              s"CASE WHEN is_tiff AND $i < n_entries THEN " +
                s"${rd(s"2 * ($base + 8) + 1", 4)} END AS val_$i")
          }: _*)
      def byTag(tag: Int) = slots
        .map(i => s"CASE WHEN tag_$i = $tag THEN val_$i END")
        .mkString("coalesce(", ", ", ")")
      parsed.selectExpr("doc_id", "is_tiff",
        "CASE WHEN NOT is_tiff THEN NULL WHEN is_le THEN 'LE' " +
          "ELSE 'BE' END AS byte_order",
        "n_entries",
        s"${byTag(256)} AS width",
        s"${byTag(257)} AS height",
        s"${byTag(259)} AS compression",
        s"${byTag(282)} AS x_resolution")
        .orderBy(asc_nulls_last("doc_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    // Constructs the identical payload blob (from_hex) and parses it back
    // with DuckDB's blob functions — hex-slice + 0x-cast big-endian reads
    // at the same spec offsets.
    "q_multimodal_headers" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CAST(n_chars % 1024 + 1 AS INTEGER) AS w,
        |    CAST(doc_id % 768 + 1 AS INTEGER) AS h,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), built AS (
        |  SELECT doc_id, from_hex(
        |    CASE WHEN doc_id % 7 = 0 THEN th
        |      WHEN doc_id % 2 = 0 THEN
        |        '89504E470D0A1A0A' || '0000000D' || '49484452' ||
        |        lpad(hex(w), 8, '0') || lpad(hex(h), 8, '0') ||
        |        '0806000000' || th
        |      ELSE
        |        'FFD8' || 'FFE00010' || '4A46494600010100000100010000' ||
        |        'FFC00011' || '08' ||
        |        lpad(hex(h), 4, '0') || lpad(hex(w), 4, '0') ||
        |        '03012200021101031101' || th
        |    END) AS payload
        |  FROM src
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS ph,
        |    CAST(octet_length(payload) AS BIGINT) AS n_bytes
        |  FROM built
        |), sniffed AS (
        |  SELECT doc_id, ph, n_bytes,
        |    CASE WHEN substring(ph, 1, 16) = '89504E470D0A1A0A' THEN 'png'
        |         WHEN substring(ph, 1, 6) = 'FFD8FF' THEN 'jpeg'
        |         ELSE 'unknown' END AS media_format
        |  FROM parsed
        |)
        |SELECT doc_id, media_format,
        |  CASE WHEN media_format = 'png'
        |         THEN CAST('0x' || substring(ph, 33, 8) AS BIGINT)
        |       WHEN media_format = 'jpeg'
        |         THEN CAST('0x' || substring(ph, 55, 4) AS BIGINT)
        |  END AS img_w,
        |  CASE WHEN media_format = 'png'
        |         THEN CAST('0x' || substring(ph, 41, 8) AS BIGINT)
        |       WHEN media_format = 'jpeg'
        |         THEN CAST('0x' || substring(ph, 51, 4) AS BIGINT)
        |  END AS img_h,
        |  n_bytes
        |FROM sniffed ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same payload built from the same doc fields (LE byte order via the
    // identical pad-then-reverse hex concatenation), parsed back with
    // reversed-slice '0x' casts at the same spec offsets.
    "q_multimodal_gif" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 900 + 100 AS INTEGER) AS w,
        |    CAST((doc_id * 7) % 500 + 100 AS INTEGER) AS h,
        |    CAST(doc_id % 8 + 128 AS INTEGER) AS pk,
        |    CAST(doc_id % 256 AS INTEGER) AS bg,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), enc AS (
        |  SELECT doc_id, th,
        |    lpad(hex(w), 4, '0') AS wh, lpad(hex(h), 4, '0') AS hh,
        |    lpad(hex(pk), 2, '0') AS pkh, lpad(hex(bg), 2, '0') AS bgh
        |  FROM src
        |), built AS (
        |  SELECT doc_id, from_hex(
        |    CASE WHEN doc_id % 5 = 0 THEN th ELSE
        |      '474946383961' ||
        |      substring(wh, 3, 2) || substring(wh, 1, 2) ||
        |      substring(hh, 3, 2) || substring(hh, 1, 2) ||
        |      pkh || bgh || '00'
        |    END) AS payload
        |  FROM enc
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS ph,
        |    octet_length(payload) >= 13
        |      AND substring(hex(payload), 1, 12) = '474946383961'
        |      AS is_gif
        |  FROM built
        |)
        |SELECT doc_id, is_gif,
        |  CASE WHEN is_gif THEN CAST('0x' || substring(ph, 15, 2)
        |    || substring(ph, 13, 2) AS BIGINT) END AS width,
        |  CASE WHEN is_gif THEN CAST('0x' || substring(ph, 19, 2)
        |    || substring(ph, 17, 2) AS BIGINT) END AS height,
        |  CASE WHEN is_gif THEN CAST('0x' || substring(ph, 21, 2)
        |    AS BIGINT) END AS packed,
        |  CASE WHEN is_gif THEN CAST('0x' || substring(ph, 23, 2)
        |    AS BIGINT) END AS bg_index,
        |  CASE WHEN is_gif THEN CAST(2 AS BIGINT)
        |    << CAST(CAST('0x' || substring(ph, 21, 2) AS BIGINT) % 8
        |      AS INTEGER) END AS n_colors
        |FROM parsed ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same 2-entry directory construction; the 256-as-zero dimension
    // decode is the identical CASE text on both engines.
    "q_multimodal_ico" ->
      s"""WITH src AS (
         |  SELECT doc_id,
         |    CAST(doc_id % 256 AS BIGINT) AS w1r,
         |    CAST((doc_id * 7) % 256 AS BIGINT) AS h1r,
         |    CAST(CASE doc_id % 4 WHEN 0 THEN 4 WHEN 1 THEN 8
         |      WHEN 2 THEN 24 ELSE 32 END AS BIGINT) AS bpp1,
         |    CAST((doc_id * 3) % 256 AS BIGINT) AS w2r,
         |    CAST((doc_id * 5) % 256 AS BIGINT) AS h2r,
         |    CAST(CASE (doc_id * 2) % 4 WHEN 0 THEN 4 WHEN 1 THEN 8
         |      WHEN 2 THEN 24 ELSE 32 END AS BIGINT) AS bpp2,
         |    CAST((doc_id % 999 + 1) * 8 AS BIGINT) AS b1,
         |    CAST(((doc_id * 7) % 999 + 1) * 4 AS BIGINT) AS b2,
         |    hex(encode(substring(text, 1, 8))) AS th
         |  FROM documents
         |), d2 AS (
         |  SELECT *,
         |    CASE WHEN bpp1 = 4 THEN 16 ELSE 0 END AS c1,
         |    CASE WHEN bpp2 = 4 THEN 16 ELSE 0 END AS c2,
         |    38 + b1 AS o2 FROM src
         |), enc AS (
         |  SELECT doc_id, th,
         |    lpad(hex(w1r), 2, '0') AS w1h, lpad(hex(h1r), 2, '0') AS h1h,
         |    lpad(hex(c1), 2, '0') AS c1h, lpad(hex(bpp1), 4, '0') AS p1h,
         |    lpad(hex(b1), 8, '0') AS b1h,
         |    lpad(hex(w2r), 2, '0') AS w2h, lpad(hex(h2r), 2, '0') AS h2h,
         |    lpad(hex(c2), 2, '0') AS c2h, lpad(hex(bpp2), 4, '0') AS p2h,
         |    lpad(hex(b2), 8, '0') AS b2h, lpad(hex(o2), 8, '0') AS o2h
         |  FROM d2
         |), built AS (
         |  SELECT doc_id, from_hex(CASE WHEN doc_id % 5 = 0 THEN th ELSE
         |    '000001000200' ||
         |    w1h || h1h || c1h || '00' || '0100' ||
         |    ${sqlLeW("p1h", 2)} || ${sqlLeW("b1h", 4)} || '26000000' ||
         |    w2h || h2h || c2h || '00' || '0100' ||
         |    ${sqlLeW("p2h", 2)} || ${sqlLeW("b2h", 4)} ||
         |    ${sqlLeW("o2h", 4)}
         |    END) AS payload
         |  FROM enc
         |), parsed AS (
         |  SELECT doc_id, hex(payload) AS h,
         |    octet_length(payload) >= 38
         |      AND substring(hex(payload), 1, 8) = '00000100' AS is_ico
         |  FROM built
         |), fields AS (
         |  SELECT doc_id, is_ico,
         |    CASE WHEN is_ico THEN ${sqlLeR(4, 2)} END AS n_images,
         |    CASE WHEN is_ico THEN CASE WHEN ${sqlLeR(6, 1)} = 0
         |      THEN 256 ELSE ${sqlLeR(6, 1)} END END AS w1,
         |    CASE WHEN is_ico THEN CASE WHEN ${sqlLeR(7, 1)} = 0
         |      THEN 256 ELSE ${sqlLeR(7, 1)} END END AS h1,
         |    CASE WHEN is_ico THEN ${sqlLeR(12, 2)} END AS bits1,
         |    CASE WHEN is_ico THEN ${sqlLeR(14, 4)} END AS bytes1,
         |    CASE WHEN is_ico THEN ${sqlLeR(18, 4)} END AS off1,
         |    CASE WHEN is_ico THEN CASE WHEN ${sqlLeR(22, 1)} = 0
         |      THEN 256 ELSE ${sqlLeR(22, 1)} END END AS w2,
         |    CASE WHEN is_ico THEN CASE WHEN ${sqlLeR(23, 1)} = 0
         |      THEN 256 ELSE ${sqlLeR(23, 1)} END END AS h2,
         |    CASE WHEN is_ico THEN ${sqlLeR(28, 2)} END AS bits2,
         |    CASE WHEN is_ico THEN ${sqlLeR(30, 4)} END AS bytes2,
         |    CASE WHEN is_ico THEN ${sqlLeR(34, 4)} END AS off2
         |  FROM parsed
         |)
         |SELECT doc_id, is_ico, n_images, w1, h1, bits1, bytes1, off1,
         |  w2, h2, bits2, bytes2, off2,
         |  CASE WHEN is_ico THEN off1 = 38 AND off2 = off1 + bytes1
         |    END AS chain_ok
         |FROM fields ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same 512-byte construction (to_base is DuckDB's conv); the octal
    // folds and the positional-CASE byte sum are value-identical text.
    "q_multimodal_tar" ->
      s"""WITH src AS (
         |  SELECT doc_id,
         |    'doc' || CAST(doc_id AS VARCHAR) || '.txt' AS nm,
         |    CAST(doc_id % 100000 + 1 AS BIGINT) AS sz,
         |    CAST(1500000000 + doc_id * 97 AS BIGINT) AS mt,
         |    hex(encode(substring(text, 1, 8))) AS th
         |  FROM documents
         |), d2 AS (
         |  SELECT *, lpad(to_base(sz, 8), 11, '0') AS szo,
         |    lpad(to_base(mt, 8), 11, '0') AS mto
         |  FROM src
         |), d3 AS (
         |  SELECT *, CAST(
         |    list_sum(list_transform(generate_series(1, length(nm)),
         |      i -> CAST(ascii(substring(nm, i, 1)) AS BIGINT)))
         |    + list_sum(list_transform(generate_series(1, 11),
         |      i -> CAST(ascii(substring(szo, i, 1)) AS BIGINT)))
         |    + list_sum(list_transform(generate_series(1, 11),
         |      i -> CAST(ascii(substring(mto, i, 1)) AS BIGINT)))
         |    + 2007 AS BIGINT) AS chk
         |  FROM d2
         |), d4 AS (
         |  SELECT *, lpad(to_base(chk, 8), 6, '0') AS chko FROM d3
         |), built AS (
         |  SELECT doc_id, from_hex(CASE WHEN doc_id % 5 = 0 THEN th ELSE
         |    rpad(hex(nm), 200, '0') ||
         |    '3030303036343400' ||
         |    '3030303137353000' || '3030303137353000' ||
         |    hex(szo) || '00' || hex(mto) || '00' ||
         |    hex(chko) || '0020' || '30' ||
         |    repeat('00', 100) || '757374617200' || '3030' ||
         |    repeat('00', 64) || repeat('00', 16) || repeat('00', 167)
         |    END) AS payload
         |  FROM d4
         |), parsed AS (
         |  SELECT doc_id, hex(payload) AS h,
         |    octet_length(payload) >= 512
         |      AND substring(hex(payload), 515, 12) = '757374617200'
         |      AS is_tar
         |  FROM built
         |)
         |SELECT doc_id, is_tar,
         |  CASE WHEN is_tar THEN decode(from_hex(regexp_replace(
         |    substring(h, 1, 200), '(00)+$$', ''))) END AS name,
         |  CASE WHEN is_tar THEN ${sqlOctR(124, 11)} END AS size_bytes,
         |  CASE WHEN is_tar THEN ${sqlOctR(136, 11)} END AS mtime,
         |  CASE WHEN is_tar THEN ${sqlOctR(148, 6)} END
         |    AS chksum_stored,
         |  CASE WHEN is_tar THEN CAST(list_sum(list_transform(
         |    generate_series(0, 511), i -> CASE WHEN i >= 148
         |      AND i < 156 THEN CAST(32 AS BIGINT) ELSE
         |      CAST('0x' || substring(h, 2 * i + 1, 2) AS BIGINT)
         |    END)) AS BIGINT) END AS chksum_computed,
         |  CASE WHEN is_tar THEN chksum_stored = chksum_computed END
         |    AS checksum_ok,
         |  CASE WHEN is_tar THEN decode(from_hex(substring(h, 313, 2)))
         |    END AS typeflag
         |FROM parsed ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same nested-container construction; size-chain verification and
    // the integer fps/duration derivations are identical text.
    "q_multimodal_avi" ->
      s"""WITH src AS (
         |  SELECT doc_id,
         |    CAST(CASE doc_id % 5 WHEN 0 THEN 10 WHEN 1 THEN 24
         |      WHEN 2 THEN 25 WHEN 3 THEN 30 ELSE 60 END AS BIGINT)
         |      AS fps,
         |    CAST(doc_id % 3600 + 1 AS BIGINT) AS frames,
         |    CAST(doc_id % 2 + 1 AS BIGINT) AS streams,
         |    CAST(doc_id % 1920 + 1 AS BIGINT) AS w,
         |    CAST((doc_id * 3) % 1080 + 1 AS BIGINT) AS hpx,
         |    hex(encode(substring(text, 1, 8))) AS th
         |  FROM documents
         |), d2 AS (
         |  SELECT *, CAST(1000000 AS BIGINT) // fps AS uspf FROM src
         |), enc AS (
         |  SELECT doc_id, th,
         |    lpad(hex(uspf), 8, '0') AS uh,
         |    lpad(hex(frames), 8, '0') AS fh,
         |    lpad(hex(streams), 8, '0') AS sh,
         |    lpad(hex(w), 8, '0') AS wh,
         |    lpad(hex(hpx), 8, '0') AS hh
         |  FROM d2
         |), built AS (
         |  SELECT doc_id, from_hex(CASE WHEN doc_id % 5 = 0 THEN th ELSE
         |    '52494646' || '50000000' || '41564920' ||
         |    '4C495354' || '44000000' || '6864726C' ||
         |    '61766968' || '38000000' ||
         |    ${sqlLeW("uh", 4)} || '20A10700' ||
         |    '00000000' || '10000000' ||
         |    ${sqlLeW("fh", 4)} || '00000000' ||
         |    ${sqlLeW("sh", 4)} || '00000100' ||
         |    ${sqlLeW("wh", 4)} || ${sqlLeW("hh", 4)} ||
         |    '00000000000000000000000000000000'
         |    END) AS payload
         |  FROM enc
         |), parsed AS (
         |  SELECT doc_id, hex(payload) AS h,
         |    octet_length(payload) >= 88
         |      AND substring(hex(payload), 1, 8) = '52494646'
         |      AND substring(hex(payload), 17, 8) = '41564920' AS is_avi
         |  FROM built
         |), fields AS (
         |  SELECT doc_id, is_avi,
         |    CASE WHEN is_avi THEN ${sqlLeR(4, 4)} END AS riff_size,
         |    CASE WHEN is_avi THEN ${sqlLeR(16, 4)} END AS list_size,
         |    CASE WHEN is_avi THEN ${sqlLeR(28, 4)} END AS avih_cb,
         |    CASE WHEN is_avi THEN ${sqlLeR(32, 4)} END AS us_per_frame,
         |    CASE WHEN is_avi THEN ${sqlLeR(48, 4)} END AS total_frames,
         |    CASE WHEN is_avi THEN ${sqlLeR(56, 4)} END AS n_streams,
         |    CASE WHEN is_avi THEN ${sqlLeR(64, 4)} END AS width,
         |    CASE WHEN is_avi THEN ${sqlLeR(68, 4)} END AS height
         |  FROM parsed
         |)
         |SELECT doc_id, is_avi, riff_size, list_size, avih_cb,
         |  us_per_frame, total_frames, n_streams, width, height,
         |  CASE WHEN is_avi THEN
         |    CAST(1000000000 AS BIGINT) // us_per_frame END AS fps_x1000,
         |  CASE WHEN is_avi THEN
         |    (us_per_frame * total_frames) // 1000 END AS duration_ms,
         |  CASE WHEN is_avi THEN riff_size = list_size + 12
         |    AND avih_cb = list_size - 12 END AS size_chain_ok
         |FROM fields ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same page construction; the lacing fold is list_transform +
    // list_sum here vs Spark's aggregate() lambda — same count-first
    // data-dependent reduction over the hex slice.
    "q_multimodal_ogg" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CAST(CAST(doc_id % 13 = 0 AS INTEGER)
        |      + 2 * CAST(doc_id % 7 = 0 AS INTEGER)
        |      + 4 * CAST(doc_id % 11 = 0 AS INTEGER) AS BIGINT) AS ht,
        |    CAST(doc_id * 977 AS BIGINT) AS gran,
        |    CAST(doc_id % 65536 + 1 AS BIGINT) AS ser,
        |    CAST(doc_id % 1000 AS BIGINT) AS seq2,
        |    CAST(doc_id % 4 + 1 AS INTEGER) AS nseg,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), enc AS (
        |  SELECT doc_id, ht, nseg, th,
        |    lpad(hex(gran), 16, '0') AS gh,
        |    lpad(hex(ser), 8, '0') AS sh,
        |    lpad(hex(seq2), 8, '0') AS qh,
        |    array_to_string(list_transform(generate_series(1, nseg),
        |      i -> lpad(hex((doc_id * 31 + i * 17) % 256), 2, '0')),
        |      '') AS lch
        |  FROM src
        |), built AS (
        |  SELECT doc_id, from_hex(CASE WHEN doc_id % 5 = 0 THEN th ELSE
        |    '4F676753' || '00' || lpad(hex(ht), 2, '0') ||
        |    substring(gh, 15, 2) || substring(gh, 13, 2) ||
        |    substring(gh, 11, 2) || substring(gh, 9, 2) ||
        |    substring(gh, 7, 2) || substring(gh, 5, 2) ||
        |    substring(gh, 3, 2) || substring(gh, 1, 2) ||
        |    substring(sh, 7, 2) || substring(sh, 5, 2) ||
        |    substring(sh, 3, 2) || substring(sh, 1, 2) ||
        |    substring(qh, 7, 2) || substring(qh, 5, 2) ||
        |    substring(qh, 3, 2) || substring(qh, 1, 2) ||
        |    '00000000' || lpad(hex(nseg), 2, '0') || lch
        |    END) AS payload
        |  FROM enc
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS h,
        |    octet_length(payload) >= 28
        |      AND substring(hex(payload), 1, 8) = '4F676753' AS is_ogg
        |  FROM built
        |), f1 AS (
        |  SELECT doc_id, is_ogg, h,
        |    CASE WHEN is_ogg THEN CAST('0x' || substring(h, 9, 2)
        |      AS BIGINT) END AS version,
        |    CASE WHEN is_ogg THEN CAST('0x' || substring(h, 11, 2)
        |      AS BIGINT) END AS htp,
        |    CASE WHEN is_ogg THEN CAST('0x' || substring(h, 27, 2)
        |      || substring(h, 25, 2) || substring(h, 23, 2)
        |      || substring(h, 21, 2) || substring(h, 19, 2)
        |      || substring(h, 17, 2) || substring(h, 15, 2)
        |      || substring(h, 13, 2) AS BIGINT) END AS granule,
        |    CASE WHEN is_ogg THEN CAST('0x' || substring(h, 35, 2)
        |      || substring(h, 33, 2) || substring(h, 31, 2)
        |      || substring(h, 29, 2) AS BIGINT) END AS serial,
        |    CASE WHEN is_ogg THEN CAST('0x' || substring(h, 43, 2)
        |      || substring(h, 41, 2) || substring(h, 39, 2)
        |      || substring(h, 37, 2) AS BIGINT) END AS page_seq,
        |    CASE WHEN is_ogg THEN CAST('0x' || substring(h, 53, 2)
        |      AS BIGINT) END AS n_segs
        |  FROM parsed
        |)
        |SELECT doc_id, is_ogg, version,
        |  CASE WHEN is_ogg THEN htp % 2 = 1 END AS continued,
        |  CASE WHEN is_ogg THEN htp // 2 % 2 = 1 END AS bos,
        |  CASE WHEN is_ogg THEN htp // 4 % 2 = 1 END AS eos,
        |  granule, serial, page_seq, n_segs,
        |  CASE WHEN is_ogg THEN CAST(list_sum(list_transform(
        |    generate_series(1, CAST(n_segs AS INTEGER)),
        |    i -> CAST('0x' || substring(h, 55 + 2 * (i - 1), 2)
        |      AS BIGINT))) AS BIGINT) END AS payload_size
        |FROM f1 ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same three-variant construction; the parse dispatches on the
    // decoded FourCC and the VP8L geometry un-packs the 14+14-bit LE
    // word with the same // and % arithmetic.
    "q_multimodal_webp" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 1920 + 1 AS BIGINT) AS w,
        |    CAST((doc_id * 3) % 1080 + 1 AS BIGINT) AS hp,
        |    CAST(doc_id % 3 AS INTEGER) AS v,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), enc AS (
        |  SELECT doc_id, v, th,
        |    lpad(hex(w), 4, '0') AS w2,
        |    lpad(hex(hp), 4, '0') AS h2,
        |    lpad(hex((w - 1) + (hp - 1) * 16384), 8, '0') AS b8,
        |    lpad(hex(w - 1), 6, '0') AS w3,
        |    lpad(hex(hp - 1), 6, '0') AS h3
        |  FROM src
        |), built AS (
        |  SELECT doc_id, from_hex(CASE WHEN doc_id % 5 = 0 THEN th ELSE
        |    '52494646' ||
        |    CASE WHEN v = 1 THEN '11000000' ELSE '16000000' END ||
        |    '57454250' ||
        |    CASE v
        |      WHEN 0 THEN '56503820' || '0A000000' || '000000' ||
        |        '9D012A' ||
        |        substring(w2, 3, 2) || substring(w2, 1, 2) ||
        |        substring(h2, 3, 2) || substring(h2, 1, 2)
        |      WHEN 1 THEN '5650384C' || '05000000' || '2F' ||
        |        substring(b8, 7, 2) || substring(b8, 5, 2) ||
        |        substring(b8, 3, 2) || substring(b8, 1, 2)
        |      ELSE '56503858' || '0A000000' || '02000000' ||
        |        substring(w3, 5, 2) || substring(w3, 3, 2) ||
        |        substring(w3, 1, 2) ||
        |        substring(h3, 5, 2) || substring(h3, 3, 2) ||
        |        substring(h3, 1, 2)
        |    END END) AS payload
        |  FROM enc
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS h,
        |    octet_length(payload) >= 20
        |      AND substring(hex(payload), 1, 8) = '52494646'
        |      AND substring(hex(payload), 17, 8) = '57454250' AS is_webp
        |  FROM built
        |), f1 AS (
        |  SELECT doc_id, is_webp, h,
        |    CASE WHEN is_webp
        |      THEN decode(from_hex(substring(h, 25, 8))) END AS fourcc,
        |    CASE WHEN is_webp THEN CAST('0x' || substring(h, 39, 2)
        |      || substring(h, 37, 2) || substring(h, 35, 2)
        |      || substring(h, 33, 2) AS BIGINT) END AS chunk_size
        |  FROM parsed
        |), f2 AS (
        |  SELECT *,
        |    CASE WHEN is_webp THEN
        |      CASE WHEN fourcc = 'VP8 '
        |          THEN substring(h, 47, 6) = '9D012A'
        |        WHEN fourcc = 'VP8L' THEN substring(h, 41, 2) = '2F'
        |        WHEN fourcc = 'VP8X' THEN TRUE
        |        ELSE FALSE END END AS sig_ok,
        |    CASE WHEN fourcc = 'VP8L'
        |      THEN CAST('0x' || substring(h, 49, 2)
        |        || substring(h, 47, 2) || substring(h, 45, 2)
        |        || substring(h, 43, 2) AS BIGINT) END AS b32
        |  FROM f1
        |)
        |SELECT doc_id, is_webp, fourcc, chunk_size, sig_ok,
        |  CASE WHEN is_webp AND sig_ok THEN
        |    CASE WHEN fourcc = 'VP8 ' THEN CAST('0x'
        |        || substring(h, 55, 2) || substring(h, 53, 2)
        |        AS BIGINT) % 16384
        |      WHEN fourcc = 'VP8L' THEN b32 % 16384 + 1
        |      WHEN fourcc = 'VP8X' THEN CAST('0x' || substring(h, 53, 2)
        |        || substring(h, 51, 2) || substring(h, 49, 2)
        |        AS BIGINT) + 1 END END AS width,
        |  CASE WHEN is_webp AND sig_ok THEN
        |    CASE WHEN fourcc = 'VP8 ' THEN CAST('0x'
        |        || substring(h, 59, 2) || substring(h, 57, 2)
        |        AS BIGINT) % 16384
        |      WHEN fourcc = 'VP8L' THEN b32 // 16384 % 16384 + 1
        |      WHEN fourcc = 'VP8X' THEN CAST('0x' || substring(h, 59, 2)
        |        || substring(h, 57, 2) || substring(h, 55, 2)
        |        AS BIGINT) + 1 END END AS height
        |FROM f2 ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same payload construction; the height read decodes two's
    // complement from the u32 LE bytes and the stride/size identities
    // re-derive from parsed fields on both engines.
    // Same envelope build; the dynamic-offset LE read spells length(h)
    // arithmetic identically.
    "q_multimodal_parquet" ->
      """WITH src AS (
        |  SELECT doc_id, text,
        |    CAST(doc_id % 64 + 8 AS BIGINT) AS blen,
        |    CAST(doc_id % 128 + 16 AS BIGINT) AS flen
        |  FROM documents
        |), enc AS (
        |  SELECT doc_id, text, blen, flen,
        |    lpad(hex(flen), 8, '0') AS flh
        |  FROM src
        |), built AS (
        |  SELECT doc_id, from_hex(
        |    CASE WHEN doc_id % 5 = 0
        |    THEN hex(encode(substring(text, 1, 8)))
        |    ELSE '50415231' ||
        |      rpad('', CAST(2 * blen AS INT), 'AB') ||
        |      rpad('', CAST(2 * flen AS INT), 'CD') ||
        |      substring(flh, 7, 2) || substring(flh, 5, 2) ||
        |      substring(flh, 3, 2) || substring(flh, 1, 2) ||
        |      '50415231'
        |    END) AS payload
        |  FROM enc
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS h,
        |    CAST(octet_length(payload) AS BIGINT) AS total_len
        |  FROM built
        |), f AS (
        |  SELECT doc_id, total_len,
        |    total_len >= 12
        |      AND substring(h, 1, 8) = '50415231'
        |      AND substring(h, length(h) - 7, 8) = '50415231'
        |      AS is_parquet,
        |    h
        |  FROM parsed
        |), g AS (
        |  SELECT doc_id, is_parquet, total_len,
        |    CASE WHEN is_parquet THEN CAST('0x'
        |      || substring(h, length(h) - 9, 2)
        |      || substring(h, length(h) - 11, 2)
        |      || substring(h, length(h) - 13, 2)
        |      || substring(h, length(h) - 15, 2) AS BIGINT) END
        |      AS footer_len
        |  FROM f
        |)
        |SELECT doc_id, is_parquet, total_len, footer_len,
        |  CASE WHEN is_parquet THEN total_len - footer_len - 12 END
        |    AS data_len,
        |  CASE WHEN is_parquet THEN footer_len >= 0
        |    AND total_len - footer_len - 12 >= 0 END AS footer_fits
        |FROM g ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same varint build (marker bit 2^(7w) + content length, hex-padded
    // to 2w digits); the width CASE ladder and the width-shifted
    // DocType offsets repeat the Spark text with '0x'-cast reads.
    "q_multimodal_webm" ->
      """WITH src AS (
        |  SELECT doc_id, text,
        |    CAST(doc_id % 4 + 1 AS BIGINT) AS w,
        |    CASE WHEN doc_id % 3 = 0 THEN 'matroska' ELSE 'webm' END
        |      AS dt
        |  FROM documents
        |), enc AS (
        |  SELECT doc_id, text, w, dt,
        |    CAST(length(dt) AS BIGINT) AS dlen,
        |    CAST(length(dt) + 3 AS BIGINT) AS clen
        |  FROM src
        |), built AS (
        |  SELECT doc_id, from_hex(
        |    CASE WHEN doc_id % 5 = 0
        |    THEN hex(encode(substring(text, 1, 8)))
        |    ELSE '1A45DFA3' ||
        |      lpad(hex((CAST(1 AS BIGINT) << CAST(7 * w AS INT))
        |        + clen), CAST(2 * w AS INT), '0') ||
        |      '4282' || lpad(hex(128 + dlen), 2, '0') || hex(encode(dt))
        |    END) AS payload
        |  FROM enc
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS h,
        |    octet_length(payload) >= 5
        |      AND substring(hex(payload), 1, 8) = '1A45DFA3' AS is_ebml
        |  FROM built
        |), f AS (
        |  SELECT doc_id, is_ebml, h,
        |    CASE WHEN is_ebml
        |      THEN CAST('0x' || substring(h, 9, 2) AS BIGINT) END AS sb
        |  FROM parsed
        |), g AS (
        |  SELECT *, CASE WHEN is_ebml THEN
        |    CAST(CASE WHEN sb >= 128 THEN 1 WHEN sb >= 64 THEN 2
        |      WHEN sb >= 32 THEN 3 WHEN sb >= 16 THEN 4 END AS BIGINT)
        |    END AS size_width
        |  FROM f
        |), g2 AS (
        |  SELECT *,
        |    CASE WHEN is_ebml THEN
        |      CAST('0x' || substring(h, 9, CAST(2 * size_width AS INT))
        |        AS BIGINT)
        |      - (CAST(1 AS BIGINT) << CAST(7 * size_width AS INT)) END
        |      AS header_size,
        |    CASE WHEN is_ebml THEN
        |      substring(h, CAST(9 + 2 * size_width AS INT), 4) = '4282'
        |      END AS dt_ok
        |  FROM g
        |), g3 AS (
        |  SELECT *,
        |    CASE WHEN is_ebml AND dt_ok THEN
        |      CAST('0x' || substring(h,
        |        CAST(13 + 2 * size_width AS INT), 2) AS BIGINT) - 128
        |      END AS dt_len
        |  FROM g2
        |), g4 AS (
        |  SELECT *,
        |    CASE WHEN is_ebml AND dt_ok THEN
        |      decode(from_hex(substring(h,
        |        CAST(15 + 2 * size_width AS INT),
        |        CAST(2 * dt_len AS INT)))) END AS doctype
        |  FROM g3
        |)
        |SELECT doc_id, is_ebml, size_width, header_size, dt_ok, doctype,
        |  CASE WHEN is_ebml AND dt_ok THEN doctype = 'webm' END
        |    AS is_webm
        |FROM g4 ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same doc_id-derived header fields; LE mtime via the byte-reversed
    // hex fragment, filename recovered from the identical hex slice.
    "q_multimodal_gzip" ->
      s"""WITH src AS (
        |  SELECT doc_id, text,
        |    CAST(1700000000 + doc_id AS BIGINT) AS mt,
        |    doc_id % 2 = 0 AS hasf,
        |    CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 4 END AS BIGINT)
        |      AS xf,
        |    CAST(CASE doc_id % 4 WHEN 0 THEN 3 WHEN 1 THEN 11
        |      WHEN 2 THEN 7 ELSE 0 END AS BIGINT) AS osb,
        |    'd' || CAST(doc_id AS VARCHAR) || '.txt' AS fn
        |  FROM documents
        |), enc AS (
        |  SELECT doc_id, text, hasf, xf, osb, fn,
        |    lpad(hex(mt), 8, '0') AS mth
        |  FROM src
        |), built AS (
        |  SELECT doc_id, from_hex(
        |    CASE WHEN doc_id % 5 = 0
        |    THEN hex(encode(substring(text, 1, 8)))
        |    ELSE '1F8B08' || CASE WHEN hasf THEN '08' ELSE '00' END ||
        |      ${sqlLeW("mth", 4)} ||
        |      lpad(hex(xf), 2, '0') || lpad(hex(osb), 2, '0') ||
        |      CASE WHEN hasf THEN hex(encode(fn)) || '00' ELSE '' END
        |    END) AS payload
        |  FROM enc
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS h,
        |    octet_length(payload) >= 10
        |      AND substring(hex(payload), 1, 4) = '1F8B'
        |      AND substring(hex(payload), 5, 2) = '08' AS is_gzip
        |  FROM built
        |), f AS (
        |  SELECT doc_id, is_gzip,
        |    CASE WHEN is_gzip
        |      THEN CAST('0x' || substring(h, 7, 2) AS BIGINT) END
        |      AS flg,
        |    CASE WHEN is_gzip THEN ${sqlLeR(4, 4)} END AS mtime,
        |    CASE WHEN is_gzip
        |      THEN CAST('0x' || substring(h, 17, 2) AS BIGINT) END
        |      AS xfl,
        |    CASE WHEN is_gzip
        |      THEN CAST('0x' || substring(h, 19, 2) AS BIGINT) END
        |      AS os_id,
        |    h
        |  FROM parsed
        |)
        |SELECT doc_id, is_gzip, mtime, xfl, os_id,
        |  CASE WHEN is_gzip THEN
        |    CASE os_id WHEN 0 THEN 'fat' WHEN 3 THEN 'unix'
        |      WHEN 7 THEN 'macintosh' WHEN 11 THEN 'ntfs'
        |      ELSE 'other' END END AS os_name,
        |  CASE WHEN is_gzip THEN (flg // 8) % 2 = 1 END AS has_fname,
        |  CASE WHEN is_gzip AND (flg // 8) % 2 = 1
        |    THEN decode(from_hex(substring(h, 21, length(h) - 22)))
        |    END AS fname
        |FROM f ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    "q_multimodal_bmp" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 1920 + 1 AS BIGINT) AS w,
        |    CAST((doc_id * 3) % 1080 + 1 AS BIGINT) AS hr,
        |    doc_id % 3 = 0 AS td,
        |    CAST(CASE doc_id % 6 WHEN 0 THEN 1 WHEN 1 THEN 4
        |      WHEN 2 THEN 8 WHEN 3 THEN 16 WHEN 4 THEN 24 ELSE 32 END
        |      AS BIGINT) AS bpp,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), d2 AS (
        |  SELECT *, ((bpp * w + 31) // 32) * 4 AS stride FROM src
        |), d3 AS (
        |  SELECT *, stride * hr AS isz,
        |    CASE WHEN td THEN 4294967296 - hr ELSE hr END AS hf
        |  FROM d2
        |), enc AS (
        |  SELECT doc_id, th,
        |    lpad(hex(isz + 54), 8, '0') AS fs,
        |    lpad(hex(w), 8, '0') AS wh,
        |    lpad(hex(hf), 8, '0') AS hh,
        |    lpad(hex(bpp), 4, '0') AS bh,
        |    lpad(hex(isz), 8, '0') AS ih
        |  FROM d3
        |), built AS (
        |  SELECT doc_id, from_hex(CASE WHEN doc_id % 5 = 0 THEN th ELSE
        |    '424D' ||
        |    substring(fs, 7, 2) || substring(fs, 5, 2) ||
        |    substring(fs, 3, 2) || substring(fs, 1, 2) ||
        |    '00000000' || '36000000' || '28000000' ||
        |    substring(wh, 7, 2) || substring(wh, 5, 2) ||
        |    substring(wh, 3, 2) || substring(wh, 1, 2) ||
        |    substring(hh, 7, 2) || substring(hh, 5, 2) ||
        |    substring(hh, 3, 2) || substring(hh, 1, 2) ||
        |    '0100' ||
        |    substring(bh, 3, 2) || substring(bh, 1, 2) ||
        |    '00000000' ||
        |    substring(ih, 7, 2) || substring(ih, 5, 2) ||
        |    substring(ih, 3, 2) || substring(ih, 1, 2) ||
        |    '130B0000' || '130B0000' || '0000000000000000'
        |    END) AS payload
        |  FROM enc
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS h,
        |    octet_length(payload) >= 54
        |      AND substring(hex(payload), 1, 4) = '424D' AS is_bmp
        |  FROM built
        |), fields AS (
        |  SELECT doc_id, is_bmp,
        |    CASE WHEN is_bmp THEN CAST('0x' || substring(h, 11, 2)
        |      || substring(h, 9, 2) || substring(h, 7, 2)
        |      || substring(h, 5, 2) AS BIGINT) END AS file_size,
        |    CASE WHEN is_bmp THEN CAST('0x' || substring(h, 27, 2)
        |      || substring(h, 25, 2) || substring(h, 23, 2)
        |      || substring(h, 21, 2) AS BIGINT) END AS data_offset,
        |    CASE WHEN is_bmp THEN CAST('0x' || substring(h, 43, 2)
        |      || substring(h, 41, 2) || substring(h, 39, 2)
        |      || substring(h, 37, 2) AS BIGINT) END AS width,
        |    CASE WHEN is_bmp THEN CAST('0x' || substring(h, 51, 2)
        |      || substring(h, 49, 2) || substring(h, 47, 2)
        |      || substring(h, 45, 2) AS BIGINT) END AS h_raw,
        |    CASE WHEN is_bmp THEN CAST('0x' || substring(h, 59, 2)
        |      || substring(h, 57, 2) AS BIGINT) END AS bits_per_pixel,
        |    CASE WHEN is_bmp THEN CAST('0x' || substring(h, 75, 2)
        |      || substring(h, 73, 2) || substring(h, 71, 2)
        |      || substring(h, 69, 2) AS BIGINT) END AS img_size
        |  FROM parsed
        |), sgn AS (
        |  SELECT *, CASE WHEN is_bmp THEN h_raw >= 2147483648 END
        |      AS top_down
        |  FROM fields
        |), hgt AS (
        |  SELECT *, CASE WHEN is_bmp THEN CASE WHEN top_down
        |      THEN 4294967296 - h_raw ELSE h_raw END END AS height
        |  FROM sgn
        |), str2 AS (
        |  SELECT *, CASE WHEN is_bmp THEN
        |      ((bits_per_pixel * width + 31) // 32) * 4 END AS row_stride
        |  FROM hgt
        |)
        |SELECT doc_id, is_bmp, width, height, top_down, bits_per_pixel,
        |  row_stride, img_size,
        |  CASE WHEN is_bmp THEN row_stride * height = img_size
        |    AND file_size = img_size + 54 AND data_offset = 54 END
        |    AS size_consistent
        |FROM str2 ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same payload construction; big-endian reads are direct hex slices
    // (no byte reversal) at the PNG spec offsets.
    "q_multimodal_png" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 1920 + 1 AS INTEGER) AS w,
        |    CAST((doc_id * 3) % 1080 + 1 AS INTEGER) AS h,
        |    CAST([0, 2, 3, 4, 6][CAST(doc_id % 5 + 1 AS INTEGER)]
        |      AS INTEGER) AS ct,
        |    CAST(doc_id % 2 AS INTEGER) AS il,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), built AS (
        |  SELECT doc_id, from_hex(
        |    CASE WHEN doc_id % 5 = 0 THEN th ELSE
        |      '89504E470D0A1A0A' || '0000000D' || '49484452' ||
        |      lpad(hex(w), 8, '0') || lpad(hex(h), 8, '0') ||
        |      '08' || lpad(hex(ct), 2, '0') || '0000' ||
        |      lpad(hex(il), 2, '0')
        |    END) AS payload
        |  FROM src
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS ph,
        |    octet_length(payload) >= 29
        |      AND substring(hex(payload), 1, 16) = '89504E470D0A1A0A'
        |      AS is_png
        |  FROM built
        |), cols AS (
        |  SELECT doc_id, is_png,
        |    CASE WHEN is_png THEN
        |      CAST('0x' || substring(ph, 33, 8) AS BIGINT) END AS width,
        |    CASE WHEN is_png THEN
        |      CAST('0x' || substring(ph, 41, 8) AS BIGINT) END AS height,
        |    CASE WHEN is_png THEN
        |      CAST('0x' || substring(ph, 49, 2) AS BIGINT) END
        |      AS bit_depth,
        |    CASE WHEN is_png THEN
        |      CAST('0x' || substring(ph, 51, 2) AS BIGINT) END
        |      AS color_type,
        |    CASE WHEN is_png THEN
        |      CAST('0x' || substring(ph, 57, 2) AS BIGINT) END
        |      AS interlace
        |  FROM parsed
        |)
        |SELECT doc_id, is_png, width, height, bit_depth, color_type,
        |  interlace,
        |  CASE color_type WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
        |    WHEN 4 THEN 2 WHEN 6 THEN 4 END AS n_channels,
        |  CAST(bit_depth * (CASE color_type WHEN 0 THEN 1 WHEN 2 THEN 3
        |    WHEN 3 THEN 1 WHEN 4 THEN 2 WHEN 6 THEN 4 END) AS BIGINT)
        |    AS bits_per_pixel
        |FROM cols ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same payload; the syncsafe size re-assembles from the four 7-bit
    // bytes by the identical integer products.
    "q_multimodal_mp3" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 2 + 3 AS INTEGER) AS ver,
        |    CAST((doc_id * 97) % 100000 AS BIGINT) AS tsz,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), built AS (
        |  SELECT doc_id, from_hex(
        |    CASE WHEN doc_id % 5 = 0 THEN th ELSE
        |      '494433' || lpad(hex(ver), 2, '0') || '00' || '00' ||
        |      lpad(hex((tsz >> 21) % 128), 2, '0') ||
        |      lpad(hex((tsz >> 14) % 128), 2, '0') ||
        |      lpad(hex((tsz >> 7) % 128), 2, '0') ||
        |      lpad(hex(tsz % 128), 2, '0')
        |    END) AS payload
        |  FROM src
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS ph,
        |    octet_length(payload) >= 10
        |      AND substring(hex(payload), 1, 6) = '494433' AS is_mp3
        |  FROM built
        |), cols AS (
        |  SELECT doc_id, is_mp3,
        |    CASE WHEN is_mp3 THEN
        |      CAST('0x' || substring(ph, 7, 2) AS BIGINT) END
        |      AS ver_major,
        |    CASE WHEN is_mp3 THEN
        |      CAST('0x' || substring(ph, 13, 2) AS BIGINT) * 2097152
        |      + CAST('0x' || substring(ph, 15, 2) AS BIGINT) * 16384
        |      + CAST('0x' || substring(ph, 17, 2) AS BIGINT) * 128
        |      + CAST('0x' || substring(ph, 19, 2) AS BIGINT) END
        |      AS tag_size
        |  FROM parsed
        |)
        |SELECT doc_id, is_mp3, ver_major, tag_size,
        |  10 + tag_size AS audio_offset
        |FROM cols ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same pack construction; the bit fields come out with >>/% on the
    // two u32 halves and `//` is the integer duration division.
    "q_multimodal_flac" ->
      """WITH src AS (
        |  SELECT doc_id, n_chars,
        |    CAST(CASE WHEN doc_id % 4 = 0 THEN 8000
        |      WHEN doc_id % 4 = 1 THEN 16000
        |      WHEN doc_id % 4 = 2 THEN 44100
        |      ELSE 48000 END AS BIGINT) AS sr,
        |    CAST(doc_id % 2 + 1 AS BIGINT) AS ch,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 24 END
        |      AS BIGINT) AS bps,
        |    CAST(n_chars * 1000 AS BIGINT) AS tot,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), enc AS (
        |  SELECT doc_id, th,
        |    (sr << 12) + ((ch - 1) << 9) + ((bps - 1) << 4)
        |      + (tot >> 32) AS hi,
        |    tot % 4294967296 AS lo
        |  FROM src
        |), built AS (
        |  SELECT doc_id, from_hex(CASE WHEN doc_id % 5 = 0 THEN th ELSE
        |    '664C6143' || '80' || '000022' ||
        |    lpad(hex(1024), 4, '0') || lpad(hex(4096), 4, '0') ||
        |    lpad(hex(1000), 6, '0') || lpad(hex(60000), 6, '0') ||
        |    lpad(hex(hi), 8, '0') || lpad(hex(lo), 8, '0') END) AS payload
        |  FROM enc
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS h,
        |    octet_length(payload) >= 26
        |      AND substring(hex(payload), 1, 8) = '664C6143' AS is_flac
        |  FROM built
        |), fields AS (
        |  SELECT doc_id, is_flac,
        |    CASE WHEN is_flac THEN CAST('0x' || substring(h, 17, 4)
        |      AS BIGINT) END AS min_blocksize,
        |    CASE WHEN is_flac THEN CAST('0x' || substring(h, 21, 4)
        |      AS BIGINT) END AS max_blocksize,
        |    CASE WHEN is_flac THEN CAST('0x' || substring(h, 37, 8)
        |      AS BIGINT) END AS hi,
        |    CASE WHEN is_flac THEN CAST('0x' || substring(h, 45, 8)
        |      AS BIGINT) END AS lo
        |  FROM parsed
        |)
        |SELECT doc_id, is_flac, min_blocksize, max_blocksize,
        |  hi >> 12 AS sample_rate,
        |  (hi >> 9) % 8 + 1 AS channels,
        |  (hi >> 4) % 32 + 1 AS bits_per_sample,
        |  (hi % 16) * 4294967296 + lo AS total_samples,
        |  CASE WHEN is_flac THEN
        |    (((hi % 16) * 4294967296 + lo) * 1000) // (hi >> 12)
        |    END AS duration_ms
        |FROM fields ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same payload construction; every multi-byte field byte-reverses
    // at the APPNOTE offsets and the member-data slice chains the two
    // length reads into its substring position.
    "q_multimodal_zip" ->
      """WITH src AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(doc_id % 2 * 8 AS INTEGER) AS method,
        |    CAST(doc_id % 65536 AS INTEGER) AS mtime,
        |    CAST((doc_id * 3) % 65536 AS INTEGER) AS mdate,
        |    CAST((doc_id * 2654435761) % 4294967296 AS BIGINT) AS crc,
        |    CAST(n_chars AS INTEGER) AS usize,
        |    CAST(CASE WHEN doc_id % 2 = 0 THEN n_chars
        |      ELSE n_chars // 2 + 1 END AS INTEGER) AS csize,
        |    source || '.txt' AS fname,
        |    CAST(doc_id % 4 AS INTEGER) AS xlen,
        |    hex(encode(substring(text, 1, 8))) AS th,
        |    hex(encode(substring(text, 1, 6))) AS dh
        |  FROM documents
        |), enc AS (
        |  SELECT doc_id, th, dh, fname, xlen,
        |    lpad(hex(method), 4, '0') AS meh,
        |    lpad(hex(mtime), 4, '0') AS mth,
        |    lpad(hex(mdate), 4, '0') AS mdh,
        |    lpad(hex(crc), 8, '0') AS crh,
        |    lpad(hex(csize), 8, '0') AS csh,
        |    lpad(hex(usize), 8, '0') AS ush,
        |    lpad(hex(octet_length(encode(fname))), 4, '0') AS flh,
        |    lpad(hex(xlen), 4, '0') AS xlh
        |  FROM src
        |), built AS (
        |  SELECT doc_id, from_hex(CASE WHEN doc_id % 5 = 0 THEN th ELSE
        |    '504B0304' || '1400' || '0000' ||
        |    substring(meh, 3, 2) || substring(meh, 1, 2) ||
        |    substring(mth, 3, 2) || substring(mth, 1, 2) ||
        |    substring(mdh, 3, 2) || substring(mdh, 1, 2) ||
        |    substring(crh, 7, 2) || substring(crh, 5, 2) ||
        |    substring(crh, 3, 2) || substring(crh, 1, 2) ||
        |    substring(csh, 7, 2) || substring(csh, 5, 2) ||
        |    substring(csh, 3, 2) || substring(csh, 1, 2) ||
        |    substring(ush, 7, 2) || substring(ush, 5, 2) ||
        |    substring(ush, 3, 2) || substring(ush, 1, 2) ||
        |    substring(flh, 3, 2) || substring(flh, 1, 2) ||
        |    substring(xlh, 3, 2) || substring(xlh, 1, 2) ||
        |    hex(encode(fname)) || repeat('00', xlen) || dh
        |    END) AS payload
        |  FROM enc
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS h,
        |    octet_length(payload) >= 30
        |      AND substring(hex(payload), 1, 8) = '504B0304' AS is_zip
        |  FROM built
        |), fields AS (
        |  SELECT doc_id, h, is_zip,
        |    CASE WHEN is_zip THEN CAST('0x' || substring(h, 19, 2)
        |      || substring(h, 17, 2) AS BIGINT) END AS method,
        |    CASE WHEN is_zip THEN CAST('0x' || substring(h, 43, 2)
        |      || substring(h, 41, 2) || substring(h, 39, 2)
        |      || substring(h, 37, 2) AS BIGINT) END AS csize,
        |    CASE WHEN is_zip THEN CAST('0x' || substring(h, 51, 2)
        |      || substring(h, 49, 2) || substring(h, 47, 2)
        |      || substring(h, 45, 2) AS BIGINT) END AS usize,
        |    CASE WHEN is_zip THEN CAST('0x' || substring(h, 55, 2)
        |      || substring(h, 53, 2) AS BIGINT) END AS fnlen,
        |    CASE WHEN is_zip THEN CAST('0x' || substring(h, 59, 2)
        |      || substring(h, 57, 2) AS BIGINT) END AS xlen
        |  FROM parsed
        |)
        |SELECT doc_id, is_zip, method, csize, usize,
        |  CASE WHEN is_zip THEN decode(from_hex(substring(h, 61,
        |    CAST(2 * fnlen AS INTEGER)))) END AS fname,
        |  CASE WHEN is_zip THEN substring(h,
        |    CAST(61 + 2 * fnlen + 2 * xlen AS INTEGER), 12)
        |    END AS data_head_hex,
        |  CASE WHEN is_zip THEN method = 0 END AS stored
        |FROM fields ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same ASCII shell construction (chr(10) newlines, || concat), the
    // identical anchored extraction regexes, and the followed-pointer
    // consistency probe.
    "q_multimodal_pdf" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN '4'
        |      WHEN doc_id % 3 = 1 THEN '5' ELSE '7' END AS v,
        |    CAST(doc_id % 9 + 1 AS INT) AS nobj, text
        |  FROM documents
        |), built AS (
        |  SELECT doc_id,
        |    '%PDF-1.' || v || chr(10) AS header,
        |    'BODY:' || substring(text, 1, 20) || chr(10) AS body,
        |    'xref' || chr(10) || '0 ' || CAST(nobj + 1 AS VARCHAR)
        |      || chr(10) AS xr,
        |    nobj, text
        |  FROM base
        |), doc AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text ELSE
        |      header || body || xr || 'trailer<</Size '
        |        || CAST(nobj + 1 AS VARCHAR) || '>>' || chr(10)
        |        || 'startxref' || chr(10)
        |        || CAST(length(header) + length(body) AS VARCHAR)
        |        || chr(10) || '%%EOF'
        |    END AS blob
        |  FROM built
        |), p AS (
        |  SELECT doc_id, blob,
        |    substring(blob, 1, 5) = '%PDF-'
        |      AND substring(blob, length(blob) - 4, 5) = '%%EOF'
        |      AS is_pdf
        |  FROM doc
        |), x AS (
        |  SELECT doc_id, blob, is_pdf,
        |    CASE WHEN is_pdf THEN substring(blob, 6, 3) END AS version,
        |    CASE WHEN is_pdf THEN
        |      CAST(regexp_extract(blob, '/Size ([0-9]+)>>', 1)
        |        AS BIGINT) END AS size_objs,
        |    CASE WHEN is_pdf THEN
        |      CAST(regexp_extract(blob,
        |        'startxref\n([0-9]+)\n%%EOF$', 1) AS BIGINT) END
        |      AS startxref
        |  FROM p
        |)
        |SELECT doc_id, is_pdf, version, size_objs, startxref,
        |  CASE WHEN is_pdf THEN
        |    substring(blob, CAST(startxref + 1 AS INT), 4) = 'xref'
        |  END AS offset_consistent
        |FROM x ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    "q_multimodal_wav" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 2 + 1 AS INTEGER) AS ch,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 8000
        |      WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS INTEGER)
        |      AS sr,
        |    CAST(n_chars * 4 AS INTEGER) AS db,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), enc AS (
        |  SELECT doc_id, th, ch, sr, db, sr * ch * 2 AS br,
        |    lpad(hex(db + 36), 8, '0') AS rsz,
        |    lpad(hex(ch), 4, '0') AS chh,
        |    lpad(hex(sr), 8, '0') AS srh,
        |    lpad(hex(sr * ch * 2), 8, '0') AS brh,
        |    lpad(hex(ch * 2), 4, '0') AS bah,
        |    lpad(hex(db), 8, '0') AS dbh
        |  FROM src
        |), built AS (
        |  SELECT doc_id, from_hex(
        |    CASE WHEN doc_id % 5 = 0 THEN th ELSE
        |      '52494646' ||
        |      substring(rsz, 7, 2) || substring(rsz, 5, 2) ||
        |        substring(rsz, 3, 2) || substring(rsz, 1, 2) ||
        |      '57415645' || '666D7420' || '10000000' || '0100' ||
        |      substring(chh, 3, 2) || substring(chh, 1, 2) ||
        |      substring(srh, 7, 2) || substring(srh, 5, 2) ||
        |        substring(srh, 3, 2) || substring(srh, 1, 2) ||
        |      substring(brh, 7, 2) || substring(brh, 5, 2) ||
        |        substring(brh, 3, 2) || substring(brh, 1, 2) ||
        |      substring(bah, 3, 2) || substring(bah, 1, 2) ||
        |      '1000' || '64617461' ||
        |      substring(dbh, 7, 2) || substring(dbh, 5, 2) ||
        |        substring(dbh, 3, 2) || substring(dbh, 1, 2)
        |    END) AS payload
        |  FROM enc
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS ph,
        |    octet_length(payload) >= 44
        |      AND substring(hex(payload), 1, 8) = '52494646'
        |      AND substring(hex(payload), 17, 8) = '57415645' AS is_wav
        |  FROM built
        |), fields AS (
        |  SELECT doc_id, is_wav,
        |    CASE WHEN is_wav THEN CAST('0x' || substring(ph, 47, 2)
        |      || substring(ph, 45, 2) AS BIGINT) END AS n_channels,
        |    CASE WHEN is_wav THEN CAST('0x' || substring(ph, 55, 2)
        |      || substring(ph, 53, 2) || substring(ph, 51, 2)
        |      || substring(ph, 49, 2) AS BIGINT) END AS sample_rate,
        |    CASE WHEN is_wav THEN CAST('0x' || substring(ph, 63, 2)
        |      || substring(ph, 61, 2) || substring(ph, 59, 2)
        |      || substring(ph, 57, 2) AS BIGINT) END AS byte_rate,
        |    CASE WHEN is_wav THEN CAST('0x' || substring(ph, 71, 2)
        |      || substring(ph, 69, 2) AS BIGINT) END AS bits_per_sample,
        |    CASE WHEN is_wav THEN CAST('0x' || substring(ph, 87, 2)
        |      || substring(ph, 85, 2) || substring(ph, 83, 2)
        |      || substring(ph, 81, 2) AS BIGINT) END AS data_bytes
        |  FROM parsed
        |)
        |SELECT doc_id, is_wav, n_channels, sample_rate, byte_rate,
        |  bits_per_sample, data_bytes,
        |  data_bytes * 1000 // byte_rate AS duration_ms
        |FROM fields ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Same spec-correct SMF construction; the division mode dispatch
    // and the two's-complement fps decode are verbatim numeric CASEs.
    "q_multimodal_midi" ->
      """WITH src AS (
        |  SELECT doc_id, n_chars,
        |    CAST(doc_id % 3 AS INTEGER) AS fmt,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 1
        |      ELSE doc_id % 4 + 1 END AS INTEGER) AS ntrks,
        |    doc_id % 2 = 1 AS smpte,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 96
        |      WHEN doc_id % 3 = 1 THEN 192 ELSE 480 END AS INTEGER)
        |      AS ppq,
        |    CAST(CASE WHEN doc_id % 4 = 0 THEN 232
        |      WHEN doc_id % 4 = 1 THEN 231
        |      WHEN doc_id % 4 = 2 THEN 227 ELSE 226 END AS INTEGER)
        |      AS fpsb,
        |    CAST((doc_id % 3 + 1) * 40 AS INTEGER) AS tpf,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), built AS (
        |  SELECT doc_id, from_hex(
        |    CASE WHEN doc_id % 5 = 0 THEN th ELSE
        |      '4D546864' || '00000006' ||
        |      lpad(hex(fmt), 4, '0') || lpad(hex(ntrks), 4, '0') ||
        |      CASE WHEN smpte THEN
        |        lpad(hex(fpsb), 2, '0') || lpad(hex(tpf), 2, '0')
        |      ELSE lpad(hex(ppq), 4, '0') END ||
        |      '4D54726B' ||
        |      lpad(hex(CAST(n_chars * 3 AS INTEGER)), 8, '0')
        |    END) AS payload
        |  FROM src
        |), parsed AS (
        |  SELECT doc_id, hex(payload) AS ph,
        |    octet_length(payload) >= 22
        |      AND substring(hex(payload), 1, 8) = '4D546864'
        |      AND CAST('0x' || substring(hex(payload), 9, 8) AS BIGINT)
        |        = 6
        |      AND substring(hex(payload), 29, 8) = '4D54726B' AS is_midi
        |  FROM built
        |), fields AS (
        |  SELECT doc_id, is_midi,
        |    CASE WHEN is_midi THEN
        |      CAST('0x' || substring(ph, 17, 4) AS BIGINT) END
        |      AS mformat,
        |    CASE WHEN is_midi THEN
        |      CAST('0x' || substring(ph, 21, 4) AS BIGINT) END
        |      AS n_tracks,
        |    CASE WHEN is_midi THEN
        |      CAST('0x' || substring(ph, 25, 2) AS BIGINT) END AS hb,
        |    CASE WHEN is_midi THEN
        |      CAST('0x' || substring(ph, 27, 2) AS BIGINT) END AS lb,
        |    CASE WHEN is_midi THEN
        |      CAST('0x' || substring(ph, 37, 8) AS BIGINT) END
        |      AS track_bytes
        |  FROM parsed
        |)
        |SELECT doc_id, is_midi, mformat, n_tracks,
        |  CASE WHEN is_midi THEN
        |    CASE WHEN hb >= 128 THEN 'smpte' ELSE 'ppq' END END
        |    AS division_mode,
        |  CASE WHEN is_midi AND hb < 128 THEN hb * 256 + lb END
        |    AS ticks_per_quarter,
        |  CASE WHEN is_midi AND hb >= 128 THEN 256 - hb END
        |    AS smpte_fps,
        |  CASE WHEN is_midi AND hb >= 128 THEN lb END
        |    AS ticks_per_frame,
        |  track_bytes
        |FROM fields ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    "q_multimodal_mp4" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    CAST(20 + (doc_id % 3) * 4 AS INT) AS fsz,
        |    CAST(8 + (n_chars % 16) AS INT) AS zsz,
        |    CAST(n_chars + 8 AS INT) AS msz,
        |    CAST(n_chars % 16 AS INT) AS zpad,
        |    hex(encode(substring(text, 1, 8))) AS th
        |  FROM documents
        |), built AS (
        |  SELECT doc_id, from_hex(
        |    CASE WHEN doc_id % 6 = 0 THEN th ELSE
        |      lpad(hex(fsz), 8, '0') || '66747970' || '69736F6D'
        |        || '00000200'
        |      || substring('6D70343169736F3269736F6D', 1,
        |           (doc_id % 3) * 8 + 8)
        |      || lpad(hex(zsz), 8, '0') || '66726565' || repeat('00', zpad)
        |      || lpad(hex(msz), 8, '0') || '6D646174'
        |    END) AS payload
        |  FROM src
        |), p0 AS (
        |  SELECT doc_id, hex(payload) AS h,
        |    CAST(octet_length(payload) AS BIGINT) AS n_bytes,
        |    octet_length(payload) >= 16
        |      AND substring(hex(payload), 9, 8) = '66747970' AS is_mp4
        |  FROM built
        |), p1 AS (
        |  SELECT *, CASE WHEN is_mp4 THEN
        |    CAST('0x' || substring(h, 1, 8) AS BIGINT) END AS s1
        |  FROM p0
        |), p2 AS (
        |  SELECT *, CASE WHEN is_mp4 THEN
        |    CAST('0x' || substring(h, CAST(2 * s1 + 1 AS INT), 8)
        |      AS BIGINT) END AS s2
        |  FROM p1
        |), p3 AS (
        |  SELECT *, CASE WHEN is_mp4 THEN
        |    CAST('0x' || substring(h, CAST(2 * (s1 + s2) + 1 AS INT), 8)
        |      AS BIGINT) END AS s3
        |  FROM p2
        |)
        |SELECT doc_id, is_mp4,
        |  CASE WHEN is_mp4 THEN
        |    decode(from_hex(substring(h, 17, 8))) END AS major_brand,
        |  CASE WHEN is_mp4 THEN concat_ws(',',
        |    decode(from_hex(substring(h, 9, 8))),
        |    decode(from_hex(substring(h, CAST(2 * s1 + 9 AS INT), 8))),
        |    decode(from_hex(substring(h, CAST(2 * (s1 + s2) + 9 AS INT),
        |      8)))) END AS boxes_csv,
        |  CASE WHEN is_mp4 THEN s3 END AS mdat_declared,
        |  CASE WHEN is_mp4 THEN s1 + s2 + s3 END AS declared_total,
        |  n_bytes
        |FROM p3 ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    "q_multimodal_framesample" ->
      """WITH built AS (
        |  SELECT doc_id, from_hex('47524654'
        |    || lpad(hex(CAST(n_chars * 100 AS INTEGER)), 8, '0')
        |    || lpad(hex(CAST(CASE WHEN doc_id % 3 = 0 THEN 24
        |         WHEN doc_id % 3 = 1 THEN 25 ELSE 30 END AS INTEGER)),
        |         4, '0')) AS payload
        |  FROM documents
        |), parsed AS (
        |  SELECT doc_id,
        |    CAST('0x' || substring(hex(payload), 9, 8) AS BIGINT)
        |      AS duration_ms,
        |    CAST('0x' || substring(hex(payload), 17, 4) AS BIGINT) AS fps
        |  FROM built
        |), framed AS (
        |  SELECT doc_id, duration_ms, fps,
        |    duration_ms * fps // 1000 AS n_frames
        |  FROM parsed
        |)
        |SELECT doc_id, duration_ms, fps, n_frames,
        |  array_to_string(list_transform(generate_series(0, 7),
        |    i -> (i * n_frames) // 8), ',') AS sample_frames,
        |  array_to_string(list_transform(generate_series(0, 7),
        |    i -> (((i * n_frames) // 8) * 1000) // fps), ',')
        |    AS sample_ts_ms
        |FROM framed ORDER BY doc_id ASC NULLS LAST""".stripMargin,

    // Endian-dispatched reads mirror the Spark side exactly: byte k of
    // an n-byte field sits at hex position pos + 2k; LE concatenates
    // the bytes in reverse. Entry constants (tag/type/count) are
    // pre-reversed literals; variable fields reverse via substring.
    "q_multimodal_tiff" -> {
      def le(p: String, n: Int) = ((n - 1) to 0 by -1)
        .map(k => s"substring(h, CAST(($p) + ${2 * k} AS INT), 2)")
        .mkString(" || ")
      def be(p: String, n: Int) =
        s"substring(h, CAST($p AS INT), ${2 * n})"
      def rd(p: String, n: Int) =
        s"CASE WHEN is_le THEN CAST('0x' || ${le(p, n)} AS BIGINT) " +
          s"ELSE CAST('0x' || ${be(p, n)} AS BIGINT) END"
      val slotCols = (0 until 4).map { i =>
        val base = s"ifd_off + 2 + ${12 * i}"
        s"""CASE WHEN is_tiff AND $i < n_entries THEN
           |      ${rd(s"2 * ($base) + 1", 2)} END AS tag_$i,
           |    CASE WHEN is_tiff AND $i < n_entries THEN
           |      ${rd(s"2 * ($base + 8) + 1", 4)} END AS val_$i""".stripMargin
      }.mkString(",\n    ")
      def byTag(tag: Int) = (0 until 4)
        .map(i => s"CASE WHEN tag_$i = $tag THEN val_$i END")
        .mkString("coalesce(", ", ", ")")
      def rev(x: String, n: Int) = ((n - 1) to 0 by -1)
        .map(k => s"substring($x, ${2 * k + 1}, 2)")
        .mkString(" || ")
      s"""WITH src AS (
         |  SELECT doc_id, n_chars, hex(encode(substring(text, 1, 8))) AS th
         |  FROM documents
         |), enc AS (
         |  SELECT doc_id, th,
         |    lpad(hex(8 + (doc_id % 4) * 2), 8, '0') AS oh,
         |    repeat('00', CAST((doc_id % 4) * 2 AS INT)) AS pad,
         |    lpad(hex(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END),
         |      4, '0') AS nh,
         |    lpad(hex(n_chars), 8, '0') AS wh,
         |    lpad(hex(n_chars // 2 + 1), 8, '0') AS hh,
         |    lpad(hex(1 + doc_id % 2), 8, '0') AS ch,
         |    doc_id % 3 = 0 AS has4
         |  FROM src
         |), built AS (
         |  SELECT doc_id, from_hex(
         |    CASE WHEN doc_id % 5 = 0 THEN th
         |      WHEN doc_id % 2 = 0 THEN
         |        '49492A00' || ${rev("oh", 4)} || pad ||
         |        ${rev("nh", 2)} ||
         |        '00010400' || '01000000' || ${rev("wh", 4)} ||
         |        '01010400' || '01000000' || ${rev("hh", 4)} ||
         |        '03010400' || '01000000' || ${rev("ch", 4)} ||
         |        CASE WHEN has4 THEN
         |          '1A010400' || '01000000' || '2C010000' ELSE '' END ||
         |        '00000000'
         |      ELSE
         |        '4D4D002A' || oh || pad || nh ||
         |        '01000004' || '00000001' || wh ||
         |        '01010004' || '00000001' || hh ||
         |        '01030004' || '00000001' || ch ||
         |        CASE WHEN has4 THEN
         |          '011A0004' || '00000001' || '0000012C' ELSE '' END ||
         |        '00000000'
         |    END) AS payload
         |  FROM enc
         |), p0 AS (
         |  SELECT doc_id, hex(payload) AS h,
         |    octet_length(payload) >= 8 AND substring(hex(payload), 1, 8)
         |      IN ('49492A00', '4D4D002A') AS is_tiff,
         |    substring(hex(payload), 1, 4) = '4949' AS is_le
         |  FROM built
         |), p1 AS (
         |  SELECT *, CASE WHEN is_tiff THEN ${rd("9", 4)} END AS ifd_off
         |  FROM p0
         |), p2 AS (
         |  SELECT *, CASE WHEN is_tiff THEN
         |    ${rd("2 * ifd_off + 1", 2)} END AS n_entries
         |  FROM p1
         |), p3 AS (
         |  SELECT doc_id, is_tiff, is_le, n_entries,
         |    $slotCols
         |  FROM p2
         |)
         |SELECT doc_id, is_tiff,
         |  CASE WHEN NOT is_tiff THEN NULL WHEN is_le THEN 'LE'
         |    ELSE 'BE' END AS byte_order,
         |  n_entries,
         |  ${byTag(256)} AS width,
         |  ${byTag(257)} AS height,
         |  ${byTag(259)} AS compression,
         |  ${byTag(282)} AS x_resolution
         |FROM p3 ORDER BY doc_id ASC NULLS LAST""".stripMargin
    }
  )
}
