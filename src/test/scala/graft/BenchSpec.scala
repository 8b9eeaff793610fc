package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench never records a throw as a time: a planted throwing query
  * comes back as an error, and scripts/check_bench.py fails a run that
  * carries one.
  */
class BenchSpec extends AnyFunSuite with SparkTestBase {

  test("a throwing query is an error entry, not a fast time; check_bench fails on it") {
    val planted = Bench.timed(spark.sql("SELECT * FROM no_such_table_planted").count())
    assert(planted.isLeft && planted.left.exists(_.contains("no_such_table_planted")),
      s"planted throw was timed: $planted")
    val ok = Bench.timed(spark.range(10).count())
    assert(ok.exists(_ >= 0.0), s"a healthy query lost its time: $ok")

    val dir = java.nio.file.Files.createTempDirectory("graft_bench_gate")
    try {
      val budget = dir.resolve("budget.json")
      java.nio.file.Files.writeString(budget,
        """{"families": {"q": 10.0}, "total": 10.0}""")
      def gate(errors: String): (Int, String) = {
        val local = dir.resolve("local.json")
        java.nio.file.Files.writeString(local,
          s"""{"value": 1.0, "families": {"q": 1.0}, "errors": $errors,
             |"load_start": 0.0, "cpus": 4}""".stripMargin)
        val out = new StringBuilder
        val code = scala.sys.process.Process(Seq("python3", "scripts/check_bench.py",
            budget.toString, local.toString))
          .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'), _ => ()))
        (code, out.toString)
      }
      val (clean, cleanOut) = gate("{}")
      assert(clean == 0, s"a run without errors must pass:\n$cleanOut")
      val (bad, badOut) = gate(s"""{"q99": ${Bench.jsonStr(planted.left.getOrElse(""))}}""")
      assert(bad != 0 && badOut.contains("FAIL q99 threw"),
        s"a run with a thrown query must fail the gate:\n$badOut")
    } finally graft.FsUtil.deleteRecursively(dir)
  }
}
