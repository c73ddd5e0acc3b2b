package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table readers and plan helpers shared by every catalog family. */
private[queries] object Readers {

  /** Cap/fixture routing for COMPOSED oracles rewrites every
    * base-table read of `documents`; a component SQL that writes the
    * read differently (newline between FROM and the name, different
    * case, quoting) would silently escape the rewrite and surface as a
    * confusing oracle mismatch instead of a loud error (ADVICE r14).
    * Requires every read to be in the exact canonical form the
    * replace catches, then rewrites them all.
    */
  def rerouteDocReads(sql: String, replacement: String): String = {
    val canonical = "FROM documents"
    val exact = canonical.r.findAllIn(sql).size
    val any = "(?i)\\bfrom\\s+\"?documents\\b".r.findAllIn(sql).size
    require(exact > 0 && exact == any,
      s"non-canonical `documents` reads escape the cap rewrite (canonical=$exact, regex=$any)")
    sql.replace(canonical, replacement)
  }

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events.parquet, robust to the physical `ts` encodings the corpus
    * has shipped as (VERDICT r9 #1): TIMESTAMP(NANOS) — the original
    * driver testdata and fix_scaleup_events output, readable by Spark
    * only as long nanos under `nanosAsLong`; plain INT64 nanos — raw
    * ScaleUp output; and timestamp[us] (isAdjustedToUTC=false → NTZ)
    * — the regenerated driver testdata. Callers that use `ts` must go
    * through [[eventsMicros]]; this raw read exists for the queries
    * that only touch non-time columns but still must not fail on a
    * NANOS footer.
    */
  /** The PHYSICAL parquet encoding of the `ts` column, read from the
    * file footer itself ("NANOS" | "MICROS" | "MILLIS" | "INT64"). The
    * inferrable Spark schema is NOT trustworthy here: a rewritten file
    * can carry stale `org.apache.spark.sql.parquet.row.metadata`
    * key-value metadata whose catalyst type contradicts the parquet
    * annotation (fix_scaleup_events.py used to produce exactly that —
    * NANOS data under a timestamp_ntz metadata schema — which passes
    * analysis and then fails every scan with
    * FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH). The footer
    * is what the column reader actually decodes, so it is the only
    * ground truth worth branching on.
    */
  def tsFooterEncoding(s: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    val conf = s.sessionState.newHadoopConf()
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    // Probes ONE part file: every writer that has produced this corpus
    // (driver pyarrow, ScaleUp, fix_scaleup_events) writes a directory
    // with a single uniform encoding — a mixed-encoding directory would
    // fail at scan time on whichever parts disagree with the probe.
    val file =
      if (fs.getFileStatus(p).isDirectory) {
        val parts = fs.listStatus(p).map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
        if (parts.isEmpty)
          sys.error(s"tsFooterEncoding: no part files under $path — cannot probe the ts encoding")
        parts.head
      } else p
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFileMetaData.getSchema.getType(Seq("ts"): _*).asPrimitiveType()
      .getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit.toString
      case _                                 => "INT64"
    } finally reader.close()
  }

  /** events.parquet read so that non-time queries work under any `ts`
    * encoding: for a TIMESTAMP(NANOS) footer the session must carry
    * `nanosAsLong` or schema inference itself throws. The flag is set
    * ONLY when the footer demands it (and the scan consults it again at
    * execution time, so a scoped set/restore would fail at runtime); it
    * is a no-op for every other encoding and table — events is the only
    * nanos-bearing table.
    */
  def eventsRaw(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    // NOTE this is a GLOBAL session-conf mutation made by a table read:
    // safe while events is the only nanos-bearing table (the flag is a
    // no-op everywhere else), but any FUTURE nanos-annotated table must
    // route through eventsRaw/eventsMicros-style helpers too — a bare
    // spark.read against a NANOS footer in the same session would
    // otherwise succeed or fail depending on which query ran first.
    if (tsFooterEncoding(s, path) == "NANOS")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(path)
  }

  /** events.parquet with `ts` normalized to epoch-MICROSECOND LongType
    * across every physical encoding the corpus has shipped as (VERDICT
    * r9 #1) — TIMESTAMP(NANOS), plain INT64 nanos, timestamp[us] (NTZ),
    * and the stale-metadata hybrid (see [[tsFooterEncoding]]) — matching
    * DuckDB's `epoch_us(ts)` exactly so the event-time oracles compare
    * value-for-value. The read uses an explicit schema derived from the
    * FOOTER encoding, overriding any embedded catalyst metadata.
    */
  def eventsMicros(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{StructType, LongType, TimestampType}
    val path = s"$dir/events.parquet"
    val enc = tsFooterEncoding(s, path)
    if (enc == "NANOS") s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // catalyst type the column READER accepts for this footer: long for
    // nanos (under the flag) and raw INT64; TIMESTAMP_LTZ for micros /
    // millis — an LTZ request decodes the stored count verbatim,
    // independent of session timezone (an NTZ->LTZ cast would shift by
    // the session offset; probed against DuckDB's epoch_us)
    val tsType = if (enc == "NANOS" || enc == "INT64") LongType else TimestampType
    val base = s.read.parquet(path).schema
    val explicit = StructType(base.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val df = s.read.schema(explicit).parquet(path)
    enc match {
      // integer DIV keeps precision a double division would lose on
      // 1e18-scale values
      case "NANOS" | "INT64" => df.withColumn("ts", expr("ts DIV 1000"))
      case "MICROS" | "MILLIS" => df.withColumn("ts", unix_micros(col("ts")))
      case other => sys.error(s"events.ts: unsupported parquet encoding $other")
    }
  }

  /** Driver-side query-vector fetch (mirrors reference embed_query +
    * broadcast, milvus_store.py:271): one k-row collect, never a
    * driver-side loop over data.
    */
  def vecOf(s: SparkSession, dir: String, vecId: Long): Array[Float] =
    tbl(s, dir, "embeddings")
      .filter(col("vec_id") === vecId)
      .select("embedding")
      .head()
      .getSeq[Float](0)
      .toArray

  /** Spread a small scan across all cores before a CPU-heavy per-row
    * stage (regex battery, UDF chunker, signature hashing). The local
    * testdata is one parquet row group per table, so the scan itself
    * can never parallelize past one task no matter how the file is
    * split — a testdata artifact: at production scale the same plans
    * get their parallelism from file/row-group splits and this shuffle
    * (a few hundred KB here) would be unnecessary. Applied only where
    * per-row compute dominates; cheap projections keep the plain scan.
    */
  def rebalanced(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  // Full-output queries do NOT end in orderBy: the driver harness (and
  // check_oracles.py) sorts rows itself before hashing, and a trailing
  // global sort is not just a wasted range exchange — the range
  // partitioner's bounds-sampling pass EXECUTES the child plan a second
  // time, doubling the cost of whatever expensive projection/window/agg
  // sits below it. orderBy is kept only where it is semantics (top-k
  // before a limit).

  /** Exact 6-dp HALF_UP rounding of the integer ratio numer/denom as a
    * Column — the engine half of [[graft.text.RepetitionStats.ratio6]]
    * (all-bigint until one final int/1e6 division), mirrored verbatim
    * by `// ` expressions in the DuckDB oracles. Rounding the DOUBLE
    * ratio instead diverges at .5e-6 midpoints — the class the r16
    * sf10r sweep measured on q_repetition. Denominators here are > 0
    * by construction (group sizes).
    */
  def ratio6Col(numer: String, denom: String): org.apache.spark.sql.Column =
    ratioCol(numer, denom, 1000000L)

  /** [[ratio6Col]] at an arbitrary decimal scale (10^dp) — r17 closed
    * the same midpoint class for the 4-dp integer-ratio rows (LSH
    * recall fractions) that r16 closed at 6 dp.
    */
  def ratioCol(numer: String, denom: String, scale: Long): org.apache.spark.sql.Column =
    expr(s"(2 * $numer * ${scale}L + $denom) div (2 * $denom)").cast("double") / lit(scale.toDouble)

  /** Fixed pivot vectors for the semantic-dedup/k-means rows: the
    * embeddings of vec_id 0..7, in id order — deterministic on both
    * engines, collected once per call (8 × 64 floats).
    */
  def pivotVecs(s: SparkSession, dir: String): Seq[Array[Float]] =
    tbl(s, dir, "embeddings")
      .filter(col("vec_id") < 8)
      .orderBy("vec_id")
      .select("embedding")
      .collect()
      .map(_.getSeq[Float](0).toArray)
      .toSeq
}
