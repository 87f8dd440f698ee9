package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded, PaySim-shaped transaction CSV.
  *
  * Every row is built in one of a few categories whose outcome under the
  * reference's validity rule (A7) and fraud rule (A8) is known, so a file's
  * expected sink count is a by-product of writing it. Amounts and balances
  * are whole cents, which keeps the balance arithmetic exact up to the
  * rounding the rule itself applies.
  *
  * @param fraudShare   share of rows flagged `isFraud` (some also
  *                     `isFlaggedFraud`) in a file that is not all-clean
  * @param invalidShare share of rows whose balances fail both A7 clauses
  * @param cleanEvery   every `cleanEvery`-th file has no flagged rows at all,
  *                     so the pipeline takes its empty branch (A9); 0 = never
  * @param boundaryRows flagged rows per file whose balance difference lies on
  *                     a 2-dp half-even boundary (see [[Gen.Boundaries]])
  */
final case class GenSpec(rows: Int, fraudShare: Double, invalidShare: Double,
                         cleanEvery: Int, boundaryRows: Int)

object GenSpec {
  /** The generator keys of one workload in workloads.json. */
  def apply(c: com.fasterxml.jackson.databind.JsonNode): GenSpec =
    GenSpec(c.get("rows_per_file").asInt, c.get("fraud_share").asDouble,
      c.get("invalid_share").asDouble, c.get("clean_every").asInt,
      c.get("boundary_rows").asInt)
}

/** One generated file: where it is, its size and what the pipeline must keep. */
final case class GenFile(index: Int, path: Path, bytes: Long, rows: Int,
                         validRows: Int, flaggedRows: Int, expectedFraud: Int) {
  /** The `nameOrig` prefix every row of this file carries (see [[Gen.nameOrig]]). */
  def prefix: String = Gen.filePrefix(index)
}

object Gen {

  val Header =
    "step,type,amount,nameOrig,oldbalanceOrg,newbalanceOrig,nameDest," +
      "oldbalanceDest,newbalanceDest,isFraud,isFlaggedFraud"

  /** (balance difference, amount kept, amount dropped): CPython's
    * `round(diff, 2)` on the binary double of `diff`, against an amount one
    * cent either side. 2.675 and 1.005 sit just below their midpoints in
    * binary (CPython gives 2.67 and 1.0, a decimal-string rounding gives
    * 2.68 and 1.01); 0.125 and 0.375 are exact ties that half-even sends to
    * 0.12 and 0.38 (half-up would give 0.13 and 0.38).
    */
  val Boundaries: Seq[(String, String, String)] = Seq(
    ("2.675", "2.67", "2.68"),
    ("1.005", "1.00", "1.01"),
    ("0.125", "0.12", "0.13"),
    ("0.375", "0.38", "0.39"))

  /** CPython's `round(x, 2)`: the exact binary value rounded half-even. */
  def pyRound2(x: Double): Double =
    new java.math.BigDecimal(x).setScale(2, java.math.RoundingMode.HALF_EVEN).doubleValue

  /** A7 evaluated directly on the CSV strings, as the reference would. */
  def valid(amount: String, oldOrg: String, newOrig: String,
            oldDest: String, newDest: String): Boolean =
    pyRound2(oldOrg.toDouble - newOrig.toDouble) >= amount.toDouble ||
      pyRound2(oldDest.toDouble + amount.toDouble) >= newDest.toDouble

  def filePrefix(index: Int): String = f"C$index%06d"
  def nameOrig(index: Int, row: Int): String = f"${filePrefix(index)}$row%07d"

  private def cents(c: Long): String = {
    val s = new java.lang.StringBuilder().append(c / 100).append('.')
    val r = c % 100
    if (r < 10) s.append('0')
    s.append(r).toString
  }

  /** PaySim's amount: heavy-tailed around ~80k, capped at 10M. */
  private def amount(rnd: SplittableRandom): Long = {
    val g = rnd.nextGaussian()
    math.min(math.round(math.exp(math.log(80000.0) + 1.3 * g) * 100), 1000000000L).max(1L)
  }

  private def balance(rnd: SplittableRandom): Long =
    if (rnd.nextDouble() < 0.3) 0L else amount(rnd) * (1 + rnd.nextInt(4))

  // PaySim's type mix: CASH_OUT, PAYMENT, CASH_IN, TRANSFER, DEBIT.
  private val Types = Array("CASH_OUT", "PAYMENT", "CASH_IN", "TRANSFER", "DEBIT")
  private val TypeCum = Array(0.352, 0.690, 0.910, 0.994, 1.0)

  /** Writes file `index` of the workload seeded by `seed` into `dir`. */
  def file(dir: Path, seed: Long, index: Int, spec: GenSpec): GenFile = {
    val rnd = new SplittableRandom(seed * 1000003L + index)
    val clean = spec.cleanEvery > 0 && index % spec.cleanEvery == spec.cleanEvery - 1
    val sb = new java.lang.StringBuilder(spec.rows * 110)
    sb.append(Header).append('\n')
    var validRows = 0
    var flaggedRows = 0
    var expected = 0
    for (row <- 0 until spec.rows) {
      val boundary = !clean && row < spec.boundaryRows
      val fraud = boundary || (!clean && rnd.nextDouble() < spec.fraudShare)
      val tpe =
        if (fraud) (if (rnd.nextBoolean()) "TRANSFER" else "CASH_OUT")
        else {
          val u = rnd.nextDouble()
          Types(TypeCum.indexWhere(u < _))
        }
      val flaggedFraud = fraud && tpe == "TRANSFER" && rnd.nextDouble() < 0.05
      val (amt, oldOrg, newOrig, oldDest, newDest, intendedValid) =
        if (boundary) {
          val (diff, keep, drop) = Boundaries((row / 2) % Boundaries.size)
          val keepIt = row % 2 == 0
          // Destination side fails by construction, so A7 hinges on py_round.
          (if (keepIt) keep else drop, diff, "0.00", "0.00", "100.00", keepIt)
        } else {
          val a = amount(rnd)
          val oo = if (fraud) a else balance(rnd)
          val od = balance(rnd)
          if (rnd.nextDouble() < spec.invalidShare) {
            // Both sides short by at least a cent: fails both A7 clauses.
            val no = math.max(oo - a, 0L) + 1 + rnd.nextInt(5000)
            (cents(a), cents(oo), cents(no), cents(od),
              cents(od + a + 1 + rnd.nextInt(5000)), false)
          } else if (oo >= a) {
            // Origin side consistent (PaySim's usual debit).
            (cents(a), cents(oo), cents(oo - a), cents(od),
              cents(od + a + rnd.nextInt(3) * 100), true)
          } else {
            // Origin short (PaySim's zero-balance rows), destination consistent.
            (cents(a), cents(oo), "0.00", cents(od), cents(od + a), true)
          }
        }
      val v = valid(amt, oldOrg, newOrig, oldDest, newDest)
      if (v != intendedValid)
        throw new IllegalStateException(
          s"generator bug: row $row of file $index built valid=$intendedValid, A7 says $v")
      val step = 1 + (index * 7 + row / 4096) % 743
      val dest = if (tpe == "PAYMENT") f"M${rnd.nextInt(1 << 30)}%d" else f"C${rnd.nextInt(1 << 30)}%d"
      sb.append(step).append(',').append(tpe).append(',').append(amt).append(',')
        .append(nameOrig(index, row)).append(',').append(oldOrg).append(',')
        .append(newOrig).append(',').append(dest).append(',').append(oldDest).append(',')
        .append(newDest).append(',').append(if (fraud) 1 else 0).append(',')
        .append(if (flaggedFraud) 1 else 0).append('\n')
      if (v) validRows += 1
      if (fraud) flaggedRows += 1
      if (v && fraud) expected += 1
    }
    val path = Files.createDirectories(dir).resolve(f"part-$index%06d.csv")
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(path, bytes)
    GenFile(index, path, bytes.length.toLong, spec.rows, validRows, flaggedRows, expected)
  }

  /** Files `0 until n`, written in parallel; same seed, same bytes. */
  def files(dir: Path, seed: Long, n: Int, spec: GenSpec): Seq[GenFile] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, Runtime.getRuntime.availableProcessors()))
    try {
      val futures = (0 until n).map(i =>
        pool.submit(new java.util.concurrent.Callable[GenFile] {
          def call(): GenFile = file(dir, seed, i, spec)
        }))
      futures.map(_.get())
    } finally pool.shutdown()
  }
}
