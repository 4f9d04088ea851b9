package graft.etl

import graft.SparkSpec
import graft.functions.GraftFunctions
import graft.streaming.StateBackend
import org.apache.spark.sql.AnalysisException

/** One wiring path for the native functions: the extension the runner
  * session installs reaches every session derived from it, with no
  * registration call anywhere. */
class SessionsSpec extends SparkSpec {

  test("graft functions resolve through spark.sql in runner, isolated stream and newSession sessions") {
    val sessions = Seq(
      "runner" -> spark,
      "isolatedStreamSession" -> StateBackend.isolatedStreamSession(spark),
      "newSession" -> spark.newSession())
    for ((label, s) <- sessions) {
      for (name <- GraftFunctions.names) {
        val info = s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0)).mkString("\n")
        assert(info.contains(s"Function: $name"), s"$label: $name not resolved:\n$info")
      }
      // the check bites: an unknown name does not resolve
      intercept[AnalysisException](s.sql("DESCRIBE FUNCTION graft_no_such_function").collect())
      // and a call analyzes and runs
      val dot = s.sql("SELECT graft_dot_f32(array(1F, 2F), array(3F, 4F))").head().getDouble(0)
      assert(dot == 11.0, s"$label: graft_dot_f32 = $dot")
    }
  }
}
