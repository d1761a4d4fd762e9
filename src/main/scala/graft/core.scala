package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Table loaders shared by every operator. One parquet file per table
  * (TESTDATA.md); at production scale these would be partitioned
  * directories — the loader is the single place to swap that in.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Each table's Spark schema, read from one parquet footer once per
    * state of that file (qualified path, length, mtime) and per value of
    * the session settings the footer conversion reads. A read with a
    * given schema starts no schema-inference job. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[Any, StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) and
      // TIMESTAMP(MICROS) across testdata generations. Spark's
      // reader rejects nanos unless they map to the physical INT64
      // (schemaOf converts the footer that way), then truncated to
      // microseconds — exactly what DuckDB does with the same file
      // (TablesSpec: toward zero, not rounding or flooring). Micros map
      // straight to a timestamp column.
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          // µs-precision but NTZ: downstream code (unix_micros, windows)
          // requires TIMESTAMP(ltz). The session timezone is pinned UTC
          // on both engines (SURVEY §7.4), so the cast preserves the
          // wall-clock value bit-for-bit and matches DuckDB's naive read.
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df // already µs-precision TIMESTAMP
      }
    } else df
  }

  /** The schema Spark would infer for the parquet table at `path` (a
    * file, or a directory whose first data file by path stands for all,
    * as in Spark's inference without schema merging), except that
    * TIMESTAMP(NANOS) columns map to their INT64 (what the legacy
    * `spark.sql.legacy.parquet.nanosAsLong` gives). Reading with that
    * schema needs no flag, so the caller's session conf is never
    * written. */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val c = spark.sessionState.conf
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val files = dataFiles(fs, fs.getFileStatus(p))
    require(files.hasNext, s"no parquet data file in $path")
    val st = files.minBy(_.getPath.toString)
    val key = (st.getPath.toString, st.getLen, st.getModificationTime,
      c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.caseSensitiveAnalysis, c.parquetInferTimestampNTZEnabled,
      c.parquetFieldIdReadEnabled, c.parquetIgnoreVariantAnnotation,
      c.parquetReaderRespectUnknownTypeAnnotation)
    schemas.computeIfAbsent(key, _ => {
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = key._4, assumeInt96IsTimestamp = key._5,
        caseSensitive = key._6, inferTimestampNTZ = key._7,
        nanosAsLong = true, useFieldId = key._8,
        ignoreVariantAnnotation = key._9,
        respectUnknownTypeAnnotation = key._10)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(st, hadoopConf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, footer), converter)
    })
  }

  /** `st` if it is a file, else the data files under it, skipping the
    * names Spark's file index skips (`_SUCCESS`, `.crc`, …). */
  private def dataFiles(fs: FileSystem, st: FileStatus)
      : Iterator[FileStatus] =
    if (st.isFile) Iterator.single(st)
    else fs.listStatus(st.getPath).iterator.filterNot { f =>
      val n = f.getPath.getName
      n.startsWith(".") || n.startsWith("_") && !n.contains("=")
    }.flatMap(dataFiles(fs, _))

  /** The timed harnesses' warm-up: JVM/codegen paths, then ONE un-timed
    * read-through of every base table (the noop sink decodes every
    * column) into the OS page cache. Nothing stays cached in Spark — the
    * optimization-round contract forbids caching base tables outside the
    * timed region (OPTIMIZATION_r13.md §methodology) — so every timed
    * query reads parquet itself. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    names.foreach { n =>
      try table(spark, sfDir, n).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
  }
}

/** Determinism helpers (SURVEY.md §7.4).
  *
  * The driver hash-compares our parquet output against DuckDB 1.0.0, so
  * every floating-point aggregate must be BIT-identical on both sides.
  * Doubles summed in different orders differ in the last ulps, so instead:
  * cast every addend to an exact DECIMAL (deterministic round-to-nearest of
  * the same IEEE value on both engines; exact ties are not binary-
  * representable, so rounding-mode differences can never fire), sum
  * exactly (order-insensitive), and cast the exact result back to DOUBLE
  * (again round-to-nearest of an exact value — identical on both sides).
  *
  * This also makes every aggregation safe under AQE re-partitioning,
  * speculative re-execution and partial (map-side) aggregation at cluster
  * scale: the result does not depend on partitioning or merge order.
  *
  * DataFrame code has one way to sum exactly: [[exactSum]] (and [[dsum]],
  * [[davg]], [[dsumProd4]] built on the same accumulator), whose overflow
  * checks hold with `spark.sql.ansi.enabled` on or off. The `sql*`
  * mirrors are SQL text for the queries that run on both engines.
  */
object Det {
  /** THE DataFrame exact sum: each addend rounds to DECIMAL(18, scale),
    * and the total accumulates exactly on [[graft.functions.Sum128]]'s
    * two-long 128-bit buffer, emitted as DECIMAL(28, scale) — the type
    * `sum(x.cast(DecimalType(18, scale)))` gives, so a call site that
    * keeps the decimal (a day sum `yd`, `sv`) has an unchanged schema.
    * A bare aggregate, so `.over(w)` applies to it. Every overflow
    * throws whatever `spark.sql.ansi.enabled` says: an addend outside
    * DECIMAL(18, scale) (the per-row cast is `checked_decimal`), the
    * 128-bit buffer (checked high-limb adds) and a total past 28 digits
    * (the finalizer). With ANSI off, Spark's own SUM/CAST would return
    * NULL instead. Exact, so the result does not depend on partitioning
    * or merge order. Oracle mirror: `SUM(CAST(x AS DECIMAL(18,s)))`. */
  def exactSum(c: Column, scale: Int = 4): Column =
    call_function("sum128", checkedDecimal(c, 18, scale))

  /** [[exactSum]] as a DOUBLE — the correctly rounded value of the exact
    * total. Oracle mirror: [[sqlDsum]]. */
  def dsum(c: Column, scale: Int = 4): Column =
    exactSum(c, scale).cast("double")

  /** Deterministic average: exact decimal sum cast to double, divided by
    * the (exact) count. Oracle mirror: [[sqlDavg]]. */
  def davg(c: Column, scale: Int = 4): Column = dsum(c, scale) / count(c)

  /** Exact sum of the product of two scale-4 decimal factors, emitted
    * as DOUBLE — value-identical to the moments-family pattern
    * `SUM(CAST(x AS DECIMAL(18,4)) * CAST(y AS DECIMAL(19,4)))
    * .cast(double)` (each FACTOR rounds at scale 4, the product is the
    * exact scale-8 decimal), on the [[graft.functions.Sum128]]
    * accumulator instead of a DECIMAL(38,8) BigDecimal buffer
    * (r14, same Sum128Spec pin as dsum). Domain: the scaled-long
    * product needs |x·y| < 9.2e10 and |y| < 9.2e14 per ROW — four-plus
    * orders of magnitude above any fixture/TPC-H money×quantity value;
    * a violating row throws under any session config. */
  def dsumProd4(x: Column, y: Column): Column = {
    // factors round at scale 4 exactly as in the decimal form;
    // unscaled() is a free field read of each factor's scaled units, so
    // the per-row path is two casts + ONE long multiply (no BigDecimal
    // anywhere). The product v = x4·y4 = (x·y)·10^8 is exact while
    // |x·y| < 9.2e10 (a money×money square peaks ~1.1e10 on TPC-H-ish
    // domains) — past it checked_mul throws rather than wrapping
    val xs = call_function("unscaled", checkedDecimal(x, 18, 4))
    val ys = call_function("unscaled", checkedDecimal(y, 19, 4))
    call_function("sum128", call_function("checked_mul", xs, ys), lit(8))
      .cast("double")
  }

  /** `c` cast to DECIMAL(p, s), throwing on overflow under any config. */
  private def checkedDecimal(c: Column, p: Int, s: Int): Column =
    call_function("checked_decimal", c, lit(p), lit(s))

  /** SQL (DuckDB) mirror of [[dsum]]. The DOUBLE conversion routes
    * through VARCHAR: DuckDB's direct DECIMAL→DOUBLE cast computes
    * scaled_int/10^scale in double arithmetic, which double-rounds (1 ulp
    * off Spark's correctly-rounded BigDecimal path) once the scaled sum
    * exceeds 2^53; the string parse is correctly rounded at any
    * magnitude. */
  def sqlDsum(x: String, scale: Int = 4): String =
    s"CAST(CAST(SUM(CAST($x AS DECIMAL(18,$scale))) AS VARCHAR) AS DOUBLE)"

  /** SQL (DuckDB) mirror of [[davg]]. Self-parenthesized so call sites
    * that multiply it (`0.2 * ${sqlDavg(..)}` in Q17) associate exactly
    * like the Column tree `lit(0.2) * davg(..)` — unparenthesized, SQL
    * left-associativity would compute (0.2 * sum) / count, which can be
    * 1 ulp off (sum*0.2 rounds before the divide) and Q17's threshold
    * feeds a row-inclusion comparison. */
  def sqlDavg(x: String, scale: Int = 4): String =
    s"(${sqlDsum(x, scale)} / COUNT($x))"

  /** Serialize a float-array expression to a deterministic scalar: each
    * element widened to DOUBLE (exact), cast to DECIMAL(18,7) (the parity
    * cast proven by the round-1 oracle), scaled to an exact BIGINT, and
    * comma-joined. Integers stringify identically on every engine, unlike
    * decimals (java BigDecimal flips to scientific notation below 1e-7)
    * or raw floats (shortest-roundtrip rules differ). The driver's
    * row-sorting checker needs scalar cells — arrays crash pandas
    * sort_values. Oracle mirror: [[sqlArrCsv]]. */
  def arrCsv(arrExpr: String): Column = expr(
    // explicit null guard: concat_ws IGNORES a null array argument (→ ''),
    // while the DuckDB mirror's list_aggr propagates NULL
    s"CASE WHEN $arrExpr IS NULL THEN NULL ELSE " +
      s"concat_ws(',', transform($arrExpr, " +
      "x -> CAST(CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,7)) " +
      "* 10000000 AS BIGINT) AS STRING))) END")

  /** SQL (DuckDB) mirror of [[arrCsv]]. The coalesce covers the empty
    * array: Spark concat_ws over [] yields '', DuckDB list_aggr yields
    * NULL — the outer CASE keeps the NULL-array arm NULL on both. */
  def sqlArrCsv(arrExpr: String): String =
    s"CASE WHEN ($arrExpr) IS NULL THEN NULL ELSE " +
      s"coalesce(list_aggr(list_transform($arrExpr, " +
      "x -> CAST(CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,7)) " +
      "* 10000000 AS BIGINT) AS VARCHAR)), 'string_agg', ','), '') END"

  // ---- bit-portable log2 (r8) -----------------------------------------
  // ln()/log2() are NOT bit-identical across libm implementations, which
  // is why transcendental scores (idf, entropy, Zipf) were descoped to
  // exact-integer forms through r7. These helpers lift that: log2 of an
  // integer n ≥ 1 (< 2^53) decomposes into the EXACT exponent
  // e = floor(log2 n) (binary-digit count — pure integer, identical on
  // both engines) plus log2 of the mantissa m = n / 2^e ∈ [1, 2) (an
  // exact division of exact doubles), evaluated by a fixed 6-term atanh
  // series in z = (m−1)/(m+1) ∈ [0, 1/3) — ONLY +,*,/ over
  // identically-derived doubles with IDENTICAL literal text, so both
  // engines produce the bit-identical IEEE double. Truncation error
  // < 2·10⁻⁷ — ample for quality scores; determinism, not precision, is
  // the contract.

  /** Exact exponent floor(log2(n)) for integer n ≥ 1 — `bin` renders the
    * minimal binary string on BOTH engines, so its length is the
    * bit-count. Identical text. */
  def log2Exp(n: String): String = s"(length(bin($n)) - 1)"

  /** Mantissa n / 2^e ∈ [1,2): the power of two comes from an integer
    * shift (Spark `shiftleft`) — `pow(2, e)` would route through libm.
    * Both divisions are of exactly-representable values → exact. */
  def mantissa(n: String, e: String): String =
    "(CAST(" + n + " AS DOUBLE) / CAST(shiftleft(CAST(1 AS BIGINT), " +
      s"CAST($e AS INT)) AS DOUBLE))"

  /** DuckDB mirror of [[mantissa]] — `<<` instead of shiftleft; the
    * shifted VALUE is the same exact integer. */
  def sqlMantissa(n: String, e: String): String =
    "(CAST(" + n + " AS DOUBLE) / CAST((CAST(1 AS BIGINT) << " +
      s"CAST($e AS INT)) AS DOUBLE))"

  /** z = (m−1)/(m+1) for the atanh series — identical text. */
  def zOfM(m: String): String =
    s"(($m - CAST(1 AS DOUBLE)) / ($m + CAST(1 AS DOUBLE)))"

  /** log2(m) = 2·atanh(z)/ln2 via the 6-term odd series, Horner form.
    * IDENTICAL text on both engines; every literal is either an exact
    * binary double (2, 0.5) or a correctly-rounded decimal both engines
    * parse to the same double (the 1/3-style ratios are explicit
    * divisions of exact small ints, and ln 2's 16-digit literal's scaled
    * integer sits below 2^53, where DuckDB's decimal→double path is
    * exact). `z` should be a simple column reference — it is spliced
    * nine times. */
  def plog2Series(z: String): String = {
    val z2 = s"($z * $z)"
    s"((CAST(2 AS DOUBLE) * ($z * (CAST(1 AS DOUBLE) + $z2 * " +
      s"(CAST(1 AS DOUBLE)/CAST(3 AS DOUBLE) + $z2 * " +
      s"(CAST(1 AS DOUBLE)/CAST(5 AS DOUBLE) + $z2 * " +
      s"(CAST(1 AS DOUBLE)/CAST(7 AS DOUBLE) + $z2 * " +
      s"(CAST(1 AS DOUBLE)/CAST(9 AS DOUBLE) + $z2 * " +
      s"(CAST(1 AS DOUBLE)/CAST(11 AS DOUBLE))))))))) / " +
      s"CAST(0.6931471805599453 AS DOUBLE))"
  }

  /** Append the full portable-log2 chain of integer column `n` to a
    * frame as column `out` (the intermediates are dropped). Spark side
    * of [[sqlPlog2Cols]]. */
  def withPlog2(df: org.apache.spark.sql.DataFrame, n: String,
      out: String): org.apache.spark.sql.DataFrame = {
    val (e, m, z) = (s"_e_$out", s"_m_$out", s"_z_$out")
    df.withColumn(e, expr(log2Exp(n)))
      .withColumn(m, expr(mantissa(n, e)))
      .withColumn(z, expr(zOfM(m)))
      .withColumn(out, expr(s"CAST($e AS DOUBLE) + ${plog2Series(z)}"))
      .drop(e, m, z)
  }

  /** DuckDB SELECT-list fragment computing the same chain via LATERAL
    * COLUMN ALIASES (DuckDB resolves an alias defined earlier in the
    * same list), emitting intermediates `{p}e2/{p}mm/{p}zz` plus the
    * result `{p}l2`. The arithmetic text per step is identical to
    * [[withPlog2]]'s — only the power-of-two shift spelling differs
    * (and its VALUE is the same exact integer). */
  def sqlPlog2Cols(n: String, p: String): String =
    s"${log2Exp(n)} AS ${p}e2, ${sqlMantissa(n, p + "e2")} AS ${p}mm, " +
      s"${zOfM(p + "mm")} AS ${p}zz, " +
      s"CAST(${p}e2 AS DOUBLE) + ${plog2Series(p + "zz")} AS ${p}l2"
}
