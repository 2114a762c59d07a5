package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.api._
import graft.sources.{FileManifest, Formats}
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{FileChange, FileDelta, FileObs, SweepObs}

/** Writes beside reads: each request is one ingest cycle over a fresh
  * Hive-partitioned lake — append the cycle's event days, list the
  * lake, classify the changes and commit the state, read the changed
  * partitions partition-pruned, and feed the listing to the streaming
  * twins as one micro-batch. Before each cycle, outside its time, a few
  * earlier partition files are rewritten or deleted. */
final class LakeIngest(input: String, work: String, val requests: Seq[Req]) extends Workload {
  import Workload._

  private var events: DataFrame = _
  private var lake: Lake = _
  /** per cycle: wrong counts found, keyed by request id */
  private val wrong = mutable.Set.empty[Int]
  private val streamSeconds = mutable.ArrayBuffer.empty[Double]

  def prepare(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    events = spark.read.parquet(s"$input/events.parquet")
      .withColumn("year", year(col("ts"))).withColumn("month", month(col("ts")))
      .withColumn("day", dayofmonth(col("ts")))
  }

  /** the first cycle starts the lake; earlier partition files are
    * rewritten or deleted by another writer, outside the request */
  override def before(spark: SparkSession, q: Req): Unit = {
    if (lake == null) lake = new Lake(spark, s"$work/lake")
    lake.mutate(q)
  }

  def run(spark: SparkSession, q: Req, t: Tracer, out: String): Unit = {
    lake.cycle(q, t, out)
    if (q.id == requests.size - 1) {
      lake.closeStreams()
      storedBytes = Seq(lake.root, lake.state, lake.ckpt).map(Disk.bytes).sum
    }
  }
  /** the lake, state and streaming checkpoints on disk after the last cycle */
  private var storedBytes = 0.0

  def check(outOf: Int => String): (Seq[Check], Seq[Int]) = (Nil, wrong.toSeq.sorted)

  override def extras(spark: SparkSession, passSeconds: Double): Map[String, Double] = {
    val inputBytes = Disk.bytes(s"$input/events.parquet")
    Map(
      "ingest_rows_per_s" -> requests.map(_.i("rows")).sum / passSeconds,
      "stream_batch_p50_s" -> Stats.median(streamSeconds.toSeq),
      "stored_bytes_per_input_byte" -> storedBytes / inputBytes)
  }

  /** The lake: a fresh directory, its change-detection state and its
    * two streaming twins. */
  final class Lake(spark: SparkSession, val root: String) {
    import spark.implicits._
    implicit val s: SparkSession = spark
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val state = s"$root-state"
    val ckpt = s"$root-stream"
    private val fs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    private val detector = Graft.changes.detect(ChangeDetectionOptions(compareMode = "quick"))
    private val obs = MemoryStream[FileObs]
    private val sweep = MemoryStream[SweepObs]
    private val changeOut = mutable.ArrayBuffer.empty[FileChange]
    private val deltaOut = mutable.ArrayBuffer.empty[FileDelta]
    private var lastListing = Set.empty[String]
    private val queries: Seq[StreamingQuery] = Seq(
      EventStreams.changeFeed(obs.toDS()).writeStream
        .option("checkpointLocation", s"$ckpt/change")
        .foreachBatch { (ds: Dataset[FileChange], _: Long) => changeOut.synchronized { changeOut ++= ds.collect() }; () }
        .start(),
      EventStreams.deltaFeed(sweep.toDS()).writeStream
        .option("checkpointLocation", s"$ckpt/delta")
        .foreachBatch { (ds: Dataset[FileDelta], _: Long) => deltaOut.synchronized { deltaOut ++= ds.collect() }; () }
        .start())

    private def partDir(d: Int, t: String) = f"$root/year=2024/month=01/day=$d%02d/event_type=$t"
    private def partFile(d: Int, t: String): Path =
      fs.listStatus(new Path(partDir(d, t))).map(_.getPath)
        .filter(p => p.getName.startsWith("part-")).head

    /** another writer rewrites earlier files in place (same key and
      * bytes, a later mtime) and deletes others */
    def mutate(q: Req): Unit = {
      q.p("rewrite").asInstanceOf[Seq[Seq[Any]]].foreach { case Seq(d, ty) =>
        val file = partFile(d.toString.toInt, ty.toString)
        fs.setTimes(file, fs.getFileStatus(file).getModificationTime + 2000L, -1L)
      }
      q.p("delete").asInstanceOf[Seq[Seq[Any]]].foreach { case Seq(d, ty) =>
        fs.delete(partFile(d.toString.toInt, ty.toString), false)
      }
    }

    def cycle(q: Req, t: Tracer, out: String): Unit = {
      // 1. append the cycle's days as Hive partitions (one file per
      // day and event type; dynamic overwrite keeps earlier days)
      val days = q.p("days").asInstanceOf[Seq[Any]].map(_.toString.toInt)
      t.span("Formats.write", "sources", "sources.write_s") {
        Formats.write(events.filter(col("day").isin(days: _*))
          .withColumn("day", lpad(col("day").cast("string"), 2, "0"))
          .repartition(col("day"), col("event_type")).drop("year", "month"),
          s"$root/year=2024/month=01", "parquet", Seq("day", "event_type"))
      }
      // 2. list the lake
      val listing = t.span("FileManifest.list", "sources", "sources.list_s") {
        FileManifest.list(spark, root).select("key", "size", "last_modified_us")
          .as[(String, Long, Long)].collect().toSeq
      }
      t.add("sources.listed_keys", listing.size)
      val cur = listing.toDF("key", "size", "last_modified_us")
        .withColumn("etag", col("size").cast("string"))
      // 3. classify against the committed state, then commit
      val changes = t.span("ChangeDetector.detectChanges", "api") {
        val prev = if (fs.exists(new Path(state))) detector.loadSnapshot(spark, state)
          else cur.limit(0)
        detector.detectChanges(prev, cur).filter(col("change_type") =!= "unchanged")
          .select("key", "change_type").as[(String, String)].collect().toSeq
      }
      t.span("ChangeDetector.commitChanges", "api")(detector.commitChanges(cur, state))
      t.add("api.calls", 2)
      val byType = changes.groupBy(_._2).map { case (k, v) => k -> v.size }.withDefaultValue(0)
      if (byType("added") != q.i("expect_added") || byType("modified") != q.p("rewrite").asInstanceOf[Seq[_]].size ||
          byType("deleted") != q.p("delete").asInstanceOf[Seq[_]].size) wrong += q.id
      // 4. read only the changed partitions, partition-pruned
      val parts = changes.filter(_._2 != "deleted").map(_._1).map { k =>
        val d = "/day=(\\d+)/".r.findFirstMatchIn(k).get.group(1).toInt
        val ty = "/event_type=([^/]+)/".r.findFirstMatchIn(k).get.group(1)
        (d, ty)
      }.distinct
      if (parts.nonEmpty) t.span("read changed", "sources") {
        val pred = parts.map { case (d, ty) => col("day") === d && col("event_type") === ty }.reduce(_ || _)
        sink(spark.read.parquet(root).filter(pred), out)
        t.add("sources.partitions_total", listing.size)
      }
      // 5. the listing as one micro-batch of each streaming twin
      val now = listing.map(_._1).toSet
      val t0 = System.nanoTime()
      val (nChange, nDelta) = (changeOut.size, deltaOut.size)
      t.span("stream batch", "streaming") {
        obs.addData(listing.map { case (k, sz, m) => FileObs(k, sz, s"$sz:$m") })
        sweep.addData(listing.map { case (k, sz, m) => SweepObs(k, sz, s"$sz:$m", deleted = false) } ++
          (lastListing -- now).toSeq.map(k => SweepObs(k, 0L, "", deleted = true)))
        queries.foreach(_.processAllAvailable())
      }
      streamSeconds += (System.nanoTime() - t0) / 1e9
      lastListing = now
      // the twins must classify the cycle as the batch detector did
      val streamed = changeOut.drop(nChange).map(c => c.key -> c.change_type).toSet
      val batch = changes.filter(_._2 != "deleted").toSet
      val netFiles = deltaOut.drop(nDelta).map(_.d_files).sum
      if (streamed != batch || netFiles != byType("added") - byType("deleted")) wrong += q.id
    }

    def closeStreams(): Unit = queries.foreach(_.stop())
  }
}

object Disk {
  def bytes(path: String): Double = {
    val f = new java.io.File(path)
    if (!f.exists) 0.0
    else if (f.isFile) f.length.toDouble
    else Option(f.listFiles).map(_.map(c => bytes(c.getPath)).sum).getOrElse(0.0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
