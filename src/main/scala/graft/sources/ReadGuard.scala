package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loud-fail schema guard for persisted-INDEX read-back.
  *
  * The serving paths (n25/n26's store reads, the s32/s34/s35/s36
  * compacted index reads) trust parquet tables an earlier job wrote. A
  * schema-drifted index (a column renamed or dropped by a careless
  * migration) must fail AT THE READ with a message naming the table —
  * the alternative is an AnalysisException deep inside a join tree, or
  * worse, a silently-wrong probe result through a surviving
  * same-named column. (Truncated/corrupt FILES already fail loudly in
  * the parquet footer reader — RobustnessSpec pins both cases.)
  */
object ReadGuard {

  /** Assert `names` all exist on `df`; returns `df` for inline use. */
  def requireColumns(df: DataFrame, table: String, names: String*): DataFrame = {
    val have = df.columns.toSet
    val missing = names.filterNot(have)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"persisted index table '$table' is schema-drifted: missing " +
          s"column(s) ${missing.mkString(", ")} (present: " +
          s"${df.columns.mkString(", ")}) — refusing to serve from a " +
          "corrupt index")
    df
  }

  /** The tolerated type-EVOLUTION ladder for store read-back: integral
    * widening (byte → short → int → long) and float → double. Everything
    * else — narrowing, integral↔floating, any kind change — stays LOUD:
    * silently upcasting an int run into a table that later narrowed, or
    * coercing longs through doubles, is exactly the corrupt-read this
    * guard exists to refuse.
    */
  private val integralRank: Map[DataType, Int] = Map(
    ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)
  private val floatRank: Map[DataType, Int] = Map(
    FloatType -> 0, DoubleType -> 1)

  private def widen(table: String, name: String,
                    a: DataType, b: DataType): DataType =
    if (a == b) a
    else if (integralRank.contains(a) && integralRank.contains(b))
      if (integralRank(a) >= integralRank(b)) a else b
    else if (floatRank.contains(a) && floatRank.contains(b))
      if (floatRank(a) >= floatRank(b)) a else b
    else throw new IllegalStateException(
      s"persisted index table '$table' column '$name' changes type " +
        s"incompatibly across runs: ${a.simpleString} vs ${b.simpleString} " +
        "— only integral/float WIDENING is tolerated on read (narrowing " +
        "and kind changes refuse to serve)")

  /** Read a per-batch-run store table (`batch_id=N` partitions) with
    * type-WIDENING schema evolution across runs (r12 verdict item 8):
    * additive columns were already tolerated and missing ones loud; this
    * adds the third real evolution a long-lived store sees — a producer
    * upgrade widens a column (INT→BIGINT) so newer runs carry the wider
    * type. Policy: normalize on read to the WIDEST type any run declares
    * (per [[widen]]'s ladder — narrowing/kind changes stay loud), by
    * reading each run's footer schema (one cheap metadata read per run,
    * never a data scan) and, only when they differ, re-reading the whole
    * table under the widened schema. The fast path (all runs agree) reads
    * with the plain read's schema. Columns absent from some runs read as
    * null there (the additive-evolution tolerance, unchanged).
    */
  /** Read-schema memo: (path, run-name set, content fingerprint) → the
    * full schema the table reads with (the plain read's, `batch_id` typed
    * as partition inference typed it, or the widened one). A hit reads
    * with `.schema(...)`, which skips both the per-run footer reads and
    * the schema-inference Spark job a plain `spark.read.parquet` starts.
    * Runs change only when a batch lands or a compaction rewrites, and
    * the key self-invalidates on any run change — INCLUDING an in-place
    * rewrite of an existing `batch_id=N` partition (a redelivered batch
    * under dynamic partition overwrite can land an evolved schema at the
    * same run name — r13 ADVICE: the name-only key served the stale
    * decision and a plain mixed-footer read could pick the narrow
    * schema): the fingerprint folds every run's file names, lengths and
    * modification times, one cheap directory listing per run, no footer
    * read. Bounded by the number of live store tables in the JVM.
    */
  private val runSchemaMemo =
    scala.collection.concurrent.TrieMap.empty[(String, Seq[String], Long), StructType]

  def readRuns(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val runs =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).sorted
    if (runs.isEmpty) return spark.read.parquet(path)
    val fingerprint = runs.foldLeft(1125899906842597L) { (acc, r) =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$r")).toSeq
        .sortBy(_.getPath.getName)
        .foldLeft(acc) { (h, st) =>
          var x = h * 31 + st.getPath.getName.hashCode
          x = x * 31 + java.lang.Long.hashCode(st.getLen)
          x * 31 + java.lang.Long.hashCode(st.getModificationTime)
        }
    }
    val key = (path, runs, fingerprint)
    runSchemaMemo.get(key) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val schemas = runs.map(r => spark.read.parquet(s"$path/$r").schema)
        val df =
          if (schemas.distinct.size == 1) spark.read.parquet(path)
          else {
            val fields =
              scala.collection.mutable.LinkedHashMap.empty[String, DataType]
            for (sch <- schemas; f <- sch.fields)
              fields(f.name) = fields.get(f.name)
                .map(widen(path, f.name, _, f.dataType)).getOrElse(f.dataType)
            spark.read.schema(StructType(
              fields.map { case (n, t) => StructField(n, t, nullable = true) }
                .toSeq :+ StructField("batch_id", LongType, nullable = true)))
              .parquet(path)
          }
        runSchemaMemo(key) = df.schema
        df
    }
  }
}
