package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = graft.GraftSession.create("local[4]", 4, "graft-test")

  /** `body`'s result and the number of Spark jobs it starts on the
    * calling thread (its jobs carry a fresh job group; other threads' jobs
    * are not counted). */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobs counted by a test")
    val result = try body finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    (result, jobs.get)
  }

  /** Write `df` as `nSlices` files in event-time order with strictly
    * increasing mtimes, so the file stream source replays a TIME-ORDERED
    * stream (the north rule's "same input stream + watermark" presumes
    * time-ordered arrival; unordered replay would legitimately drop rows
    * behind the watermark). */
  def writeTimeOrdered(df: org.apache.spark.sql.DataFrame, dir: String,
                       nSlices: Int): Unit = {
    import org.apache.spark.sql.functions._
    val ms = df.select(unix_millis(col("event_time")).as("ms"))
      .orderBy("ms").collect().map(_.getLong(0))
    val n = ms.length
    val cuts = (1 until nSlices).map(i => ms((i.toLong * n / nSlices).toInt))
    val bounds = (Long.MinValue +: cuts) :+ Long.MaxValue
    bounds.sliding(2).foreach { case Seq(lo, hi) =>
      df.filter(unix_millis(col("event_time")) >= lo &&
          unix_millis(col("event_time")) < hi)
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(50)
    }
  }
}
