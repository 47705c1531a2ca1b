package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reference CLI surface (dsrs [--key] [--raw] [--merge] [--hh k],
  * /root/reference/src/main.rs:30-45) re-expressed as Cli.sketchRun —
  * including the reference's merge-equivalence test (main.rs:260-335):
  * split the input into parts two different ways, --raw each part,
  * --merge the partials, and the result must equal the single pass. */
class CliSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("sketch: plain distinct count over lines") {
    val lines = (1 to 300).map(i => s"line${i % 100}").toDF("value")
    assert(Cli.sketchRun(lines, keyed = false, raw = false, merge = false, hh = None) == Seq("100"))
  }

  test("sketch --key: first-space split, per-key distinct of the rest") {
    val keyed = Seq("a 1", "a 2", "a 1", "b 9", "c x y", "c x y").toDF("value")
    // 'c x y' value is 'x y' (split at FIRST space only)
    assert(Cli.sketchRun(keyed, keyed = true, raw = false, merge = false, hh = None) ==
      Seq("a 2", "b 1", "c 1"))
    // a line without the separator is an error, like the reference panic
    val bad = Seq("a 1", "nosep").toDF("value")
    intercept[IllegalArgumentException] {
      Cli.sketchRun(bad, keyed = true, raw = false, merge = false, hh = None)
    }
  }

  test("sketch --raw then --merge equals the single pass, any partitioning") {
    val all = (1 to 900).map(i => s"v${i % 250}")
    val single = Cli.sketchRun(all.toDF("value"),
      keyed = false, raw = false, merge = false, hh = None)
    // two different splits into thirds: modulo and contiguous
    for (parts <- Seq(
        all.zipWithIndex.groupBy(_._2 % 3).values.toSeq.map(_.map(_._1)),
        all.grouped(300).toSeq)) {
      val partials = parts.map { p =>
        Cli.sketchRun(p.toDF("value"), keyed = false, raw = true, merge = false, hh = None).head
      }
      val merged = Cli.sketchRun(partials.toDF("value"),
        keyed = false, raw = false, merge = true, hh = None)
      assert(merged == single)
      // raw+merge: re-serialized merged partial still merges to the same
      val reRaw = Cli.sketchRun(partials.toDF("value"),
        keyed = false, raw = true, merge = true, hh = None)
      assert(Cli.sketchRun(reRaw.toDF("value"),
        keyed = false, raw = false, merge = true, hh = None) == single)
    }
  }

  test("sketch --key --raw then --key --merge equals keyed single pass") {
    val all = (1 to 600).map(i => s"k${i % 3} v${i % 40}")
    val single = Cli.sketchRun(all.toDF("value"),
      keyed = true, raw = false, merge = false, hh = None)
    val parts = all.grouped(200).toSeq
    val partialLines = parts.flatMap { p =>
      Cli.sketchRun(p.toDF("value"), keyed = true, raw = true, merge = false, hh = None)
    }
    val merged = Cli.sketchRun(partialLines.toDF("value"),
      keyed = true, raw = false, merge = true, hh = None)
    assert(merged == single)
  }

  test("flags: unknown names, missing values and bare switches are rejected") {
    val dedup = Cli.commandFlags("dedup")
    assert(Cli.parseFlags(Seq("--input", "in", "--bands", "16"), dedup) ==
      Map("input" -> "in", "bands" -> "16"))
    // --band is not --bands: it must not run with the default band count
    intercept[IllegalArgumentException](Cli.parseFlags(Seq("--input", "in", "--band", "16"), dedup))
    intercept[IllegalArgumentException](Cli.parseFlags(Seq("--input", "in", "--bands"), dedup))
    intercept[IllegalArgumentException](Cli.parseFlags(Seq("input", "in"), dedup))
    // the reference CLI's bare --key switch must not silently run unkeyed
    val sketch = Cli.commandFlags("sketch")
    intercept[IllegalArgumentException](Cli.parseFlags(Seq("--input", "f", "--key"), sketch))
    intercept[IllegalArgumentException](Cli.parseFlags(Seq("--key", "--raw", "--input", "f"), sketch))
    assert(Cli.parseFlags(Seq("--input", "f", "--key", "true"), sketch) ==
      Map("input" -> "f", "key" -> "true"))
  }

  test("sketch --hh k: exact top-k under capacity, estimate-descending") {
    val lines = (Seq.fill(50)("hot") ++ Seq.fill(30)("warm") ++ Seq.fill(5)("cold")).toDF("value")
    val got = Cli.sketchRun(lines, keyed = false, raw = false, merge = false, hh = Some(2))
    assert(got == Seq("hot 50 50 50", "warm 30 30 30"))
  }
}
