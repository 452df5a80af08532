package graft.pipeline

import graft.SparkSpec

class RunMetricsSpec extends SparkSpec {

  test("observed metrics + after-processing hooks fire with record counts") {
    import spark.implicits._
    val df = (1 to 42).toDF("n")
    var hookSaw: Option[Any] = None
    val m = RunMetrics.runWithHooks(df, "t_metrics")(
      _.write.mode("overwrite").format("noop").save())(
      metrics => hookSaw = metrics.get("records_out"))
    assert(m("records_out") == 42)
    assert(hookSaw == Some(42))
  }

  test("yaml writer emits one document per record") {
    import spark.implicits._
    val df = Seq((Seq("a1"), Seq("t1", "t2"))).toDF("id", "title")
    val yaml = graft.sinks.Writers.yamlFrame(df).collect().map(_.getString(0))
    assert(yaml.length == 1)
    assert(yaml.head.contains("id:") && yaml.head.contains("- \"t1\"") ||
      yaml.head.contains("t1"))
  }
}
