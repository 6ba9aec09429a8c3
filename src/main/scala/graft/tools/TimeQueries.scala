package graft.tools

import org.apache.spark.sql.SparkSession

/** Ad-hoc min-of-N timing for NAMED registry queries (not part of the
  * driver contract — the Bench main is): `runMain graft.tools.TimeQueries
  * <sfDir> <query> [query...]`. Same session config and warmup
  * discipline as [[graft.Bench]] so numbers are comparable to headliner
  * seconds; used to before/after operators that have no bench slot yet.
  * With `GRAFT_TIME_TRACE=1` every job prints its wall time, the
  * description of the SQL execution that submitted it and its stages'
  * names, so a query's time can be split by phase.
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TimeQueries <sfDir> <query> [query...]")
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = sys.env.get("GRAFT_TIME_TRACE").contains("1")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val sqlDescs = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    // aggregate task metrics per timed region (r19: the shuffle-vs-CPU
    // profile the trainer-epoch audit needs): bytes through the shuffle
    // both ways, executor CPU, spill
    val shufR = new java.util.concurrent.atomic.AtomicLong()
    val shufW = new java.util.concurrent.atomic.AtomicLong()
    val cpuNs = new java.util.concurrent.atomic.AtomicLong()
    val spill = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          if (trace) {
            val sql = Option(j.properties)
              .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
              .map(id => s"sql $id: " + sqlDescs.getOrDefault(id.toLong, "?"))
              .getOrElse("no sql execution")
            val stages = j.stageInfos.map(s => s"${s.stageId} ${s.name}")
            starts.put(j.jobId, (System.nanoTime(),
              s"$sql | stages ${stages.mkString("; ")}"))
          }
          ()
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          if (trace) Option(starts.remove(j.jobId)).foreach { case (t0, what) =>
            println(f"[trace]   job ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $what")
          }
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
              if trace => sqlDescs.put(s.executionId, s.description)
          case _ => ()
        }
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) {
            shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            cpuNs.addAndGet(m.executorCpuTime)
            spill.addAndGet(m.diskBytesSpilled)
          }
          ()
        }
      })
    val warmDir = {
      val w = "/root/testdata/sf0.001"
      if (new java.io.File(w).isDirectory) w else sfDir
    }
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, warmDir).count()
      catch { case e: Throwable => System.err.println(s"[time] warm $n: $e") }
    }
    names.foreach { n =>
      val times = (1 to 3).flatMap { _ =>
        System.gc()
        jobs.set(0)
        shufR.set(0L); shufW.set(0L); cpuNs.set(0L); spill.set(0L)
        val t0 = System.nanoTime()
        try {
          graft.SparkEntry.queries(n)(spark, sfDir).count()
          Some(((System.nanoTime() - t0) / 1e9, jobs.get(),
            (shufR.get(), shufW.get(), cpuNs.get(), spill.get())))
        } catch {
          case e: Throwable => System.err.println(s"[time] $n failed: $e"); None
        }
      }
      val best = if (times.nonEmpty) times.map(_._1).min else -1.0
      val js = if (times.nonEmpty) times.map(_._2).max else -1
      println(f"[time] $n%-40s min=$best%8.3f s  jobs=$js%3d  " +
        times.map(t => f"${t._1}%.3f").mkString("[", ",", "]"))
      times.lastOption.foreach { case (_, _, (r, w, c, sp)) =>
        println(f"[time]   $n%-38s shufR=${r / 1e6}%.1f MB shufW=${w / 1e6}%.1f MB " +
          f"execCpu=${c / 1e9}%.2f s spill=${sp / 1e6}%.1f MB (last rep)")
      }
    }
    spark.stop()
  }
}
