package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-loop profiler for the streaming bench entries: runs one query N
  * times with a listener printing each micro-batch's duration breakdown
  * (durationMs: addBatch / getBatch / queryPlanning / walCommit / ...)
  * so fixed-overhead hunting is measurement, not guesswork. Not part of
  * the driver contract. */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = args.headOption.getOrElse("q73_stream_stream_join")
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Bench.session("4")
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        println(s"#started ${e.name} at ${System.nanoTime() / 1000000}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        println(s"#progress batch=${e.progress.batchId} rows=${e.progress.numInputRows} " +
          s"durations=${e.progress.durationMs}")
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(s"#terminated at ${System.nanoTime() / 1000000}")
    })
    val q = graft.SparkEntry.queries(name)
    for (i <- 1 to passes) {
      val t0 = System.nanoTime()
      q(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"#pass $i $name $sec%.3f s")
    }
    spark.stop()
  }
}
