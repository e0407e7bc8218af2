package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev profiling modes for what no other tool records: a query's
  * build/plan/exec/jobs split (`floor`), its plans before and after
  * execution, per-batch streaming durations and ad-hoc SQL over the
  * registered tables. Bench and Verify do not call it. */
object Profile {
  private val Usage = "usage: graft.Profile <sfDir> (sql <text...> | floor | " +
    "explain <query...> | exec-explain <query...> | streamprof <query> <passes>)"

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    lazy val spark = EntryPoint.session(EntryPoint.cpus("8")) // no session on a usage error
    args.drop(1) match {
      case Array("sql", query @ _*) =>
        Catalog.registerTables(spark, d)
        spark.sql(query.mkString(" ")).show(20, false)
      case Array("streamprof", name, nStr) =>
        // per-batch durationMs breakdown for a streaming query: is the
        // per-drain floor microbatch machinery (walCommit/stateOperators
        // = inherent) or source listing/planning (shareable)?
        import org.apache.spark.sql.streaming.StreamingQueryListener
        import scala.collection.mutable.ArrayBuffer
        val batches = ArrayBuffer.empty[String]
        spark.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
            val p = e.progress
            val d = p.durationMs
            batches.synchronized { batches += (
              s"batch=${p.batchId} rows=${p.numInputRows} trigger=${d.get("triggerExecution")}ms" +
              s" addBatch=${d.get("addBatch")} getBatch=${d.get("getBatch")}" +
              s" latestOffset=${d.get("latestOffset")} planning=${d.get("queryPlanning")}" +
              s" walCommit=${d.get("walCommit")} commitOffsets=${d.get("commitOffsets")}" +
              s" stateCommit=${p.stateOperators.map(_.commitTimeMs).sum}ms" +
              s" stateRows=${p.stateOperators.map(_.numRowsTotal).sum}") }
          }
        })
        for (i <- 1 to nStr.toInt) {
          batches.synchronized(batches.clear())
          val t0 = System.nanoTime()
          val n = SparkEntry.queries(name)(spark, d).count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // listener events are async
          println(f"[streamprof] $name pass $i: wall=$wall%.2fs rows=$n")
          batches.synchronized(batches.foreach(b => println(s"  $b")))
        }
      case Array("floor") =>
        // decompose the bench's per-query fixed cost at tiny SF:
        //   build = SparkEntry builder call (incl. any driver actions)
        //   plan  = analysis + optimization + physical planning + codegen
        //   exec  = the noop-sink job(s)
        // run twice per query, report the second (warm) split — the bench
        // itself measures warm passes after its untimed warmup
        val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
        })
        def split(fn: (SparkSession, String) => DataFrame): (Double, Double, Double, Int) = {
          val j0 = jobs.get()
          val t0 = System.nanoTime()
          val df = fn(spark, d)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // force analyze/optimize/plan
          val t2 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val t3 = System.nanoTime()
          Thread.sleep(15) // let the async listener bus drain job events
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
            jobs.get() - j0)
        }
        // SPARK_GRAFT_QUERIES narrows the floor pass like Bench's filter
        val only = sys.env.get("SPARK_GRAFT_QUERIES")
          .map(_.split(",").map(_.trim).toSet)
        val rows = SparkEntry.queries.toSeq
          .filter { case (name, _) => only.forall(_.contains(name)) }
          .map { case (name, fn) =>
          try {
            split(fn) // warmup
            val (b, p, x, j) = split(fn)
            (name, b, p, x, j)
          } catch { case e: Throwable =>
            println(s"[profile] floor $name FAILED: ${e.getMessage.takeWhile(_ != '\n')}")
            (name, 0.0, 0.0, 0.0, 0)
          }
        }
        val (tb, tp, tx) = (rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum)
        println(f"[profile] floor TOTAL build=$tb%.1fs plan=$tp%.1fs exec=$tx%.1fs jobs=${rows.map(_._5).sum}")
        rows.sortBy(r => -(r._2 + r._3 + r._4)).take(30).foreach { case (n, b, p, x, j) =>
          println(f"[profile] floor $n%-32s build=$b%6.2f plan=$p%6.2f exec=$x%6.2f jobs=$j%3d")
        }
      case Array("explain", names @ _*) =>
        names.foreach { n =>
          println(s"========== $n ==========")
          println(SparkEntry.queries(n)(spark, d).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
      case Array("exec-explain", names @ _*) =>
        // FINAL plan after execution — AQE runtime decisions (SMJ->SHJ
        // conversion, coalesced reads) only exist in the executed plan
        names.foreach { n =>
          println(s"========== $n ==========")
          val df = SparkEntry.queries(n)(spark, d)
          df.write.format("noop").mode("overwrite").save()
          println(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
  }
}
