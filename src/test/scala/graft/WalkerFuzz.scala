package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** Byte-mutation fuzz over binary walkers, one test per row.
  *
  * Each trial flips `1 + rng.nextInt(flips)` bytes of a valid fixture
  * at seeded positions and runs the walker's entry point. The contract
  * is termination with either a result (the flip hit slack bytes or
  * left a still-valid input) or an `IllegalArgumentException` — the one
  * class `require`, `Bin` and every walker's own checks throw. Any other
  * class (ArrayIndexOutOfBounds, NegativeArraySize, a bare
  * RuntimeException, ...) is a missing guard and fails the row.
  *
  * A row may also cut each valid fixture at a seeded point after every
  * flip trial (`cuts`) and feed `garbage` arrays of pure noise per
  * case; all draws come from the row's one seeded generator, in that
  * order. */
trait WalkerFuzz { self: AnyFunSuite =>

  /** One input family of a row: trial index → valid bytes to mutate,
    * and the entry point, which also sees the trial index. */
  protected final case class Case(label: String, fixture: Int => Array[Byte],
      entry: (Int, Array[Byte]) => Any)

  protected final case class Row(name: String, seed: Int, trials: Int,
      flips: Int, cases: Seq[Case], cuts: Boolean = false,
      garbage: Int = 0)

  protected def one(label: String, fixture: Int => Array[Byte])(
      entry: Array[Byte] => Any): Seq[Case] =
    Seq(Case(label, fixture, (_, b) => entry(b)))

  protected def fixed(label: String, ok: Array[Byte])(
      entry: Array[Byte] => Any): Case =
    Case(label, _ => ok, (_, b) => entry(b))

  /** Registers `row` as one test named after it. */
  protected def fuzzTest(row: Row): Unit = test(row.name)(run(row))

  private def loud(label: String)(t: => Any): Unit =
    try { t; () }
    catch {
      case _: IllegalArgumentException => ()
      case other: Throwable =>
        fail(s"$label: non-contract failure " +
          s"${other.getClass.getName}: ${other.getMessage}", other)
    }

  private def run(row: Row): Unit = {
    val rng = new Random(row.seed)
    row.cases.foreach { c =>
      (0 until row.trials).foreach { trial =>
        val ok = c.fixture(trial)
        val bad = ok.clone()
        (0 until 1 + rng.nextInt(row.flips)).foreach { _ =>
          bad(rng.nextInt(bad.length)) = rng.nextInt(256).toByte
        }
        loud(s"${c.label} flip trial $trial")(c.entry(trial, bad))
        if (row.cuts) {
          val cut = 1 + rng.nextInt(ok.length - 1)
          loud(s"${c.label} cut@$cut trial $trial")(
            c.entry(trial, ok.take(cut)))
        }
      }
      (0 until row.garbage).foreach { g =>
        val junk = Array.fill(64 + rng.nextInt(512))(rng.nextInt(256).toByte)
        loud(s"${c.label} garbage trial $g")(c.entry(g, junk))
      }
    }
  }
}
