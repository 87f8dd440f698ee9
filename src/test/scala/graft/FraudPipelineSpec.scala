package graft

import java.nio.file.Files
import graft.operators.FraudPipeline

/** Reference-fidelity golden tests (SURVEY §5): a 34-row PaySim-shaped
  * fixture with the reference's replayed semantics — 34 input rows → 32
  * after the validity filter → 2 after the fraud filter. The fixture is
  * constructed (not copied from the reference sample) with the same
  * checkpoint counts; plus adversarial cases: half-even rounding
  * boundaries, null balances, header-case insensitivity.
  */
class FraudPipelineSpec extends SparkSpec {

  /** 34 rows: 30 valid non-fraud, 2 invalid (fail A7), 2 valid fraud. */
  private def fixtureCsv(header: String): String = {
    val rows = new StringBuilder(header + "\n")
    // 30 valid non-fraud: oldOrg - newOrig == amount exactly
    for (i <- 1 to 30)
      rows ++= s"1,PAYMENT,${100 + i}.0,C$i,${1000 + i}.0,900.0,M$i,0.0,0.0,0,0\n"
    // 2 invalid: both disjuncts false (org drop < amount, dest gain < new)
    rows ++= "1,DEBIT,9644.94,C9001,4465.0,0.0,C9101,10845.0,157982.12,0,0\n"
    rows ++= "1,TRANSFER,311685.89,C9002,10835.0,0.0,C9102,6267.0,2719172.89,0,0\n"
    // 2 valid fraud: org drop == amount, isFraud = 1
    rows ++= "1,TRANSFER,181.0,C9003,181.0,0.0,C9103,0.0,0.0,1,0\n"
    rows ++= "1,CASH_OUT,181.0,C9004,181.0,0.0,C9104,0.0,0.0,1,0\n"
    rows.toString
  }

  private val camelHeader =
    "step,type,amount,nameOrig,oldbalanceOrg,newbalanceOrig,nameDest,oldbalanceDest,newbalanceDest,isFraud,isFlaggedFraud"
  private val lowerHeader = camelHeader.toLowerCase

  private def writeCsv(content: String): String = {
    val dir = Files.createTempDirectory("fraud_fixture")
    Files.writeString(dir.resolve("txns.csv"), content)
    dir.toString
  }

  test("golden 34 -> 32 -> 2 pipeline checkpoints") {
    val df = FraudPipeline.readCsv(spark, writeCsv(fixtureCsv(camelHeader)))
    assert(df.count() === 34)
    val valid = FraudPipeline.validityFilter(df)
    assert(valid.count() === 32)
    val fraud = FraudPipeline.fraudFilter(valid)
    assert(fraud.count() === 2)
    val names = fraud.select("nameOrig").collect().map(_.getString(0)).sorted
    assert(names === Array("C9003", "C9004"))
  }

  test("header case-insensitivity: lowercase headers give identical results") {
    // Read with inferSchema so header names survive, then resolve camelCase
    // column refs against lowercase headers — the reference's intended
    // semantics (SURVEY §1.3), free under spark.sql.caseSensitive=false.
    def run(header: String): Long = {
      val df = spark.read.option("header", "true").option("inferSchema", "true")
        .csv(writeCsv(fixtureCsv(header)))
      FraudPipeline(df).count()
    }
    assert(run(camelHeader) === 2)
    assert(run(lowerHeader) === 2)
  }

  test("Python-fidelity rounding: py_round(2.675, 2) = 2.67 drops the boundary row") {
    // 2.675 in binary double is 2.67499999...; Python round() gives 2.67 so
    // the row must NOT pass against amount 2.68. Spark's own bround() would
    // wrongly give 2.68 (it rounds the shortest decimal string) — the exact
    // divergence py_round (custom Expression) exists to fix.
    val csv = camelHeader + "\n" +
      "1,PAYMENT,2.68,C1,2.675,0.0,M1,0.0,100.0,1,0\n"
    val df = FraudPipeline.readCsv(spark, writeCsv(csv))
    assert(FraudPipeline(df).count() === 0)
  }

  test("null balances drop the row (pandas-NaN-comparison fidelity)") {
    val csv = camelHeader + "\n" +
      "1,PAYMENT,100.0,C1,,900.0,M1,,100000.0,1,0\n" + // null balances -> drop
      "1,PAYMENT,100.0,C2,1000.0,900.0,M2,0.0,0.0,1,0\n" // control -> kept
    val df = FraudPipeline.readCsv(spark, writeCsv(csv))
    val out = FraudPipeline(df).collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("nameOrig") === "C2")
  }

  test("filter algebra: cascaded A7∘A8 equals single conjunction") {
    val df = FraudPipeline.readCsv(spark, writeCsv(fixtureCsv(camelHeader)))
    import org.apache.spark.sql.functions._
    val conj = df.filter(
      expr("(py_round(oldbalanceOrg - newbalanceOrig, 2) >= amount OR " +
           " py_round(oldbalanceDest + amount, 2) >= newbalanceDest) AND " +
           "(isFraud = 1 OR isFlaggedFraud = 1)"))
    val cascade = FraudPipeline(df)
    assert(cascade.except(conj).isEmpty && conj.except(cascade).isEmpty)
  }

  test("FAILFAST mode rejects malformed rows (zip-variant cast fidelity)") {
    val csv = camelHeader + "\n1,PAYMENT,notanumber,C1,1.0,0.0,M1,0.0,0.0,zz,0\n"
    val df = FraudPipeline.readCsv(spark, writeCsv(csv), permissive = false)
    intercept[org.apache.spark.SparkException] { df.collect() }
  }

  test("PERMISSIVE ingest quarantines the corrupt record; clean rows survive") {
    // the third policy beside FAILFAST (die) and silent-null: capture the
    // raw offending line in a quarantine column so a 100 TB ingest keeps
    // going AND retains the evidence for replay
    val dir = java.nio.file.Files.createTempDirectory("perm").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "a.json"),
      """{"id": 1, "v": 10.5}
        |{"id": definitely not json
        |{"id": 3, "v": 30.0}
        |""".stripMargin)
    val df = spark.read
      .schema("id BIGINT, v DOUBLE, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
    val rows = df.collect()
    assert(rows.length === 3)
    val bad = rows.filter(r => !r.isNullAt(2))
    assert(bad.length === 1)
    assert(bad.head.getString(2).contains("definitely not json"))
    val clean = rows.filter(_.isNullAt(2)).map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(clean === Set((1L, 10.5), (3L, 30.0)))
  }
}
