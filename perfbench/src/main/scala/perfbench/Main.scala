package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   Main <workload> <inputDir> <workDir> <trace 0|1>
  *
  * Builds a fresh graft session [[Main.Setups]] times (session build and
  * input registration) and keeps the last one; the run reports the
  * median. Then it runs an untimed warm-up over `<inputDir>/warmup`,
  * inputs and requests of the same shape made from another seed, so the
  * timed pass meets a warm JVM but neither data nor requests it has
  * seen. Then a single closed-loop client sends the workload's seeded
  * requests once, in order: one timed pass. Outputs are checked
  * afterwards, untimed. With trace 1 the pass is traced, and the
  * workload's untimed layer legs run after it. Raw figures go to
  * `<workDir>/result.json`.
  */
object Main {
  /** sessions built per run: `setup_s` takes their median, so one slow
    * build does not decide it (the README gives the spread of the first
    * build alone) */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, traceArg) = args
    val traced = traceArg == "1"
    def open(in: String, out: String): Workload = {
      val spec = Json.read(s"$in/requests.json").asInstanceOf[Map[String, Any]]
      val reqs = spec("requests").asInstanceOf[Seq[Map[String, Any]]].map { m =>
        Req(m("id").toString.toInt, m.getOrElse("key", m.getOrElse("kind", "cycle")).toString, m)
      }
      workload match {
        case "lake_scan" => new LakeScan(in, reqs)
        case "llm_audit" => new LlmAudit(in, reqs)
        case "lake_ingest" => new LakeIngest(in, out, reqs)
      }
    }
    val wl = open(input, work)
    val warm = open(s"$input/warmup", s"$work/warmup")

    var spark: SparkSession = null
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.GraftSession.build(s"perfbench-$workload")
      wl.prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    warm.prepare(spark)
    warm.requests.foreach { q =>
      try {
        warm.before(spark, q)
        warm.run(spark, q, new Tracer(false), s"$work/warmup/out/r${q.id}")
      } catch { case e: Throwable => System.err.println(s"[perfbench] warm-up ${q.label} failed: $e") }
    }
    val warmupS = (System.nanoTime() - w0) / 1e9

    def outOf(id: Int) = s"$work/out/r$id"
    val t = new Tracer(traced)
    if (traced) {
      spark.sparkContext.addSparkListener(new OperatorListener(t))
      spark.listenerManager.register(new PlanListener(t, s"$work/out"))
      spark.streams.addListener(new StreamListener(t))
    }

    val latencies = scala.collection.mutable.ArrayBuffer.empty[Double]
    val labels = scala.collection.mutable.ArrayBuffer.empty[String]
    val failedIds = scala.collection.mutable.ArrayBuffer.empty[Int]
    var outside = 0L
    val p0 = System.nanoTime()
    wl.requests.foreach { q =>
      val b0 = System.nanoTime()
      wl.before(spark, q)
      val r0 = System.nanoTime()
      outside += r0 - b0
      try {
        val (_, c) = t.request(spark, q.id, q.label)(wl.run(spark, q, t, outOf(q.id)))
        latencies += (System.nanoTime() - r0) / 1e9
        labels += q.label
        wl.layerCounters(q, c, t)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] request ${q.id} ${q.label} failed: $e")
        failedIds += q.id
      }
    }
    val passS = (System.nanoTime() - p0 - outside) / 1e9
    val extras = wl.extras(spark, passS) ++ retained(spark)
    val (checks, wrongIds) = wl.check(outOf)

    // the pass's counters and self times, then the legs, which are not
    // part of the pass
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val pass = t.total.toMap ++
          t.selfTimes.map { case (l, v) => s"$l.self_s" -> v } ++ Map(
            "requests_per_pass" -> wl.requests.size.toDouble,
            "cores" -> spark.sparkContext.defaultParallelism.toDouble)
        pass ++ wl.legs(spark, t)
      }
    if (traced) {
      val w = new java.io.PrintWriter(s"$work/spans.json")
      try w.write(t.spansJson) finally w.close()
    }

    val result = Map(
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "pass_s" -> passS,
      "latencies_s" -> latencies.toSeq,
      "labels" -> labels.toSeq,
      "attempted" -> wl.requests.size,
      "failed_ids" -> failedIds.toSeq,
      "wrong_ids" -> wrongIds,
      "checks" -> checks.map(c => Map("id" -> c.id, "dir" -> c.dir, "sql" -> c.sql)),
      "extras" -> extras,
      "layers" -> layers)
    val w = new java.io.PrintWriter(s"$work/result.json")
    try w.write(Json.write(result)) finally w.close()
    spark.stop()
  }

  /** Disk the session still holds after the timed passes: persisted
    * blocks plus the reliable-checkpoint directory, in MB. */
  private def retained(spark: SparkSession): Map[String, Double] = {
    val sc = spark.sparkContext
    val persisted = sc.getRDDStorageInfo.map(r => r.diskSize + r.memSize).sum.toDouble
    val ckpt = sc.getCheckpointDir.map(d => Disk.bytes(new java.net.URI(d).getPath)).getOrElse(0.0)
    Map("retained_disk_mb" -> (persisted + ckpt) / (1024.0 * 1024.0))
  }
}
