package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api._
import graft.functions.Globs

/** One request of a workload's seeded list. */
final case class Req(id: Int, label: String, p: Map[String, Any]) {
  def s(k: String): String = p(k).toString
  def i(k: String): Int = p(k).asInstanceOf[Number].intValue
  def strs(k: String): Seq[String] = p(k).asInstanceOf[Seq[_]].map(_.toString)
}

/** A result the Python side compares with DuckDB: the Spark output
  * written to `dir`, and the oracle query over the same inputs. */
final case class Check(id: Int, dir: String, sql: String)

/** A workload runs its seeded requests against one session. `run`
  * writes a request's result to `out` through [[Workload.sink]]; `check`
  * runs untimed after the timed pass, on its outputs. */
trait Workload {
  def requests: Seq[Req]
  def prepare(spark: SparkSession): Unit
  /** Untimed changes to the world that the next request observes. */
  def before(spark: SparkSession, q: Req): Unit = ()
  def run(spark: SparkSession, q: Req, t: Tracer, out: String): Unit
  /** Oracle checks of the outputs `outOf(id)`, plus ids of requests
    * found wrong inside the JVM. */
  def check(outOf: Int => String): (Seq[Check], Seq[Int])
  /** Untimed end-of-run figures, such as bytes on disk. */
  def extras(spark: SparkSession, passSeconds: Double): Map[String, Double] = Map.empty
  /** Traced-run figures derived from per-request counters. */
  def layerCounters(q: Req, c: Map[String, Double], t: Tracer): Unit = ()
  /** Traced-run figures of single layers measured after the pass, on
    * their own: untimed, and not part of the pass's counters. */
  def legs(spark: SparkSession, t: Tracer): Map[String, Double] = Map.empty
}

object Workload {
  /** The timed sink. A parquet write evaluates every output column and
    * the final ordering (a `count()` lets Catalyst prune both), and the
    * written rows are what the untimed check compares. */
  def sink(df: DataFrame, out: String): Unit = df.write.parquet(out)

  /** Task seconds and output rows of evaluating `df` into Spark's noop
    * sink, as one traced request. */
  def busy(spark: SparkSession, t: Tracer, name: String)(df: => DataFrame): (Double, Double) = {
    val (_, c) = t.request(spark, -2, name)(df.write.format("noop").mode("overwrite").save())
    (c.getOrElse("operators.task_busy_s", 0.0), c.getOrElse("sources.rows_out", 0.0))
  }

  /** The median of `reps` task-second differences between `withF` and
    * `without`, each pair run once before the reps to warm both plans. */
  def netBusy(spark: SparkSession, t: Tracer, reps: Int)(withF: => DataFrame,
      without: => DataFrame): (Double, Double) = {
    busy(spark, t, "warm")(withF); busy(spark, t, "warm")(without)
    val runs = (1 to reps).map { _ =>
      val (k, rows) = busy(spark, t, "with")(withF)
      val (b, _) = busy(spark, t, "without")(without)
      (k - b, rows)
    }
    (Stats.median(runs.map(_._1)), runs.head._2)
  }
  def sql(s: String): String = "'" + s.replace("'", "''") + "'"
}

/** The rehiver surface over a stored manifest listing: glob lists,
  * Hive-partition validation, time-partition ranges, change detection,
  * and the lake contract keys. */
final class LakeScan(input: String, val requests: Seq[Req]) extends Workload {
  import Workload._
  private var manifest: DataFrame = _
  private var matcher: PathMatcher = _

  def prepare(spark: SparkSession): Unit = {
    manifest = spark.read.parquet(s"$input/manifest.parquet")
    matcher = Graft.matcher()
  }

  private val hiveRe = (k: String) => s"(?:^|/)$k=([^/]*)"

  def build(spark: SparkSession, q: Req): DataFrame = q.s("kind") match {
    case "key" => graft.SparkEntry.queries(q.s("key"))(spark, input)
    case "glob" => matcher.filterMatching(manifest, q.strs("patterns")).select("event_id", "key")
    case "not" => matcher.filterNot(manifest, q.strs("patterns")).select("event_id", "key")
    case "capture" =>
      manifest.select(col("event_id"), matcher.capture(q.s("pattern"), col("key")).as("cap"))
        .filter(col("cap").isNotNull)
    case "hive" =>
      val parser = Graft.partition.create(
        PartitionField("year", IntegerType, min = Some(2024L), max = Some(2024L)),
        PartitionField("month", IntegerType, min = Some(1L), max = Some(12L)),
        PartitionField("day", IntegerType, min = Some(q.i("day_min").toLong), max = Some(q.i("day_max").toLong)),
        PartitionField("event_type", enumVals = q.strs("types")))
      manifest.filter(parser.isValid(col("key")))
        .select(col("event_id"), parser.parse(col("key")).as("p")).select("event_id", "p.*")
    case "time" =>
      val gen = if (q.s("granularity") == "hourly") Graft.time.hourly() else Graft.time.daily()
      gen.generatePathsForRange(spark, q.s("start"), q.s("end"))
    case "change" =>
      val (prev, cur) = snapshots(q)
      Graft.changes.detect(ChangeDetectionOptions(compareMode = q.s("mode")))
        .detectChanges(prev, cur).filter(col("change_type") =!= "unchanged")
        .select("key", "change_type")
  }

  /** previous/current listings: prev drops ids ≡ 0 mod drop_prev, has a
    * stale etag on ids ≡ 0 mod mutate and a stale size and mtime on ids
    * ≡ 0 mod 2·mutate+1; cur drops ids ≡ 0 mod drop_cur. */
  private def snapshots(q: Req): (DataFrame, DataFrame) = {
    val (a, b, c) = (q.i("drop_prev"), q.i("mutate"), q.i("drop_cur"))
    val id = col("event_id")
    val etagHit = pmod(id, lit(b)) === 0
    val sizeHit = pmod(id, lit(2 * b + 1)) === 0
    val prev = manifest.filter(pmod(id, lit(a)) =!= 0)
      .withColumn("etag", when(etagHit, concat(col("etag"), lit("x"))).otherwise(col("etag")))
      .withColumn("size", when(sizeHit, col("size") + 17).otherwise(col("size")))
      .withColumn("last_modified_us",
        when(sizeHit, col("last_modified_us") - 3600000000L).otherwise(col("last_modified_us")))
    (prev, manifest.filter(pmod(id, lit(c)) =!= 0))
  }

  private def oracle(q: Req): String = q.s("kind") match {
    case "key" => graft.SparkEntry.oracleSql(q.s("key"))
    case k @ ("glob" | "not") =>
      val (neg, pos) = q.strs("patterns").partition(_.startsWith("!"))
      val hit = s"regexp_matches(key, ${sql("^(?:" + Globs.compileAny(pos) + ")$")})" +
        (if (neg.isEmpty) ""
         else s" AND NOT regexp_matches(key, ${sql("^(?:" + Globs.compileAny(neg.map(_.drop(1))) + ")$")})")
      s"SELECT event_id, key FROM manifest WHERE ${if (k == "glob") hit else s"NOT ($hit)"}"
    case "capture" =>
      val (re0, names) = Globs.compileCapture(q.s("pattern"))
      val re = sql("^" + re0 + "$")
      val caps = names.indices.map(i => s"regexp_extract(key, $re, ${i + 1})").mkString(", ")
      s"SELECT event_id, [$caps] AS cap FROM manifest WHERE regexp_matches(key, $re)"
    case "hive" =>
      def v(k: String, t: String) =
        s"CAST(NULLIF(regexp_extract(key, ${sql(hiveRe(k))}, 1), '') AS $t)"
      val types = q.strs("types").map(sql).mkString(", ")
      s"""SELECT event_id, ${v("year", "INTEGER")} AS year, ${v("month", "INTEGER")} AS month,
         |  ${v("day", "INTEGER")} AS day, ${v("event_type", "VARCHAR")} AS event_type
         |FROM manifest
         |WHERE ${v("year", "INTEGER")} BETWEEN 2024 AND 2024
         |  AND ${v("month", "INTEGER")} BETWEEN 1 AND 12
         |  AND ${v("day", "INTEGER")} BETWEEN ${q.i("day_min")} AND ${q.i("day_max")}
         |  AND ${v("event_type", "VARCHAR")} IN ($types)""".stripMargin
    case "time" =>
      val (step, fmt) =
        if (q.s("granularity") == "hourly") ("1 HOUR", "year=%Y/month=%m/day=%d/hour=%H")
        else ("1 DAY", "year=%Y/month=%m/day=%d")
      s"""SELECT strftime(generate_series, '$fmt') AS path
         |FROM generate_series(TIMESTAMP '${q.s("start")}', TIMESTAMP '${q.s("end")}', INTERVAL $step)""".stripMargin
    case "change" =>
      val (a, b, c) = (q.i("drop_prev"), q.i("mutate"), q.i("drop_cur"))
      val etagNe = if (q.s("mode") == "full") " OR c.etag <> p.etag" else ""
      s"""WITH prev AS (
         |  SELECT key,
         |    CASE WHEN event_id % ${2 * b + 1} = 0 THEN size + 17 ELSE size END AS size,
         |    CASE WHEN event_id % $b = 0 THEN etag || 'x' ELSE etag END AS etag,
         |    CASE WHEN event_id % ${2 * b + 1} = 0 THEN last_modified_us - 3600000000 ELSE last_modified_us END AS last_modified_us
         |  FROM manifest WHERE event_id % $a <> 0),
         |cur AS (SELECT key, size, etag, last_modified_us FROM manifest WHERE event_id % $c <> 0),
         |cls AS (
         |  SELECT COALESCE(c.key, p.key) AS key,
         |    CASE WHEN p.etag IS NULL THEN 'added' WHEN c.etag IS NULL THEN 'deleted'
         |      WHEN c.size <> p.size OR c.last_modified_us <> p.last_modified_us$etagNe THEN 'modified'
         |      ELSE 'unchanged' END AS change_type
         |  FROM cur c FULL OUTER JOIN prev p ON c.key = p.key)
         |SELECT * FROM cls WHERE change_type <> 'unchanged'""".stripMargin
  }

  def run(spark: SparkSession, q: Req, t: Tracer, out: String): Unit = {
    val kind = q.s("kind")
    val df =
      if (kind == "key") t.span(s"build ${q.label}", "entry")(build(spark, q))
      else t.span(s"build ${q.label}", "api", "api.build_s")(build(spark, q))
    if (kind != "key") t.add("api.calls", 1)
    t.span("sink", "bench")(sink(df, out))
  }

  override def layerCounters(q: Req, c: Map[String, Double], t: Tracer): Unit = {
    val kind = q.s("kind")
    if (kind == "glob" || kind == "not") {
      // a single positive glob that starts with a literal compiles to an
      // anchored regex with a literal prefix, which the pushdown targets
      val pos = q.strs("patterns").filterNot(_.startsWith("!"))
      if (kind == "glob" && pos.size == 1 && pos.head.head.isLetterOrDigit) {
        t.total("plans.prefix_requests") += 1
        if (c.getOrElse("plans.scans_with_prefix", 0.0) > 0) t.total("plans.prefix_pushed") += 1
      }
    }
  }

  def check(outOf: Int => String): (Seq[Check], Seq[Int]) =
    (requests.map(q => Check(q.id, outOf(q.id), oracle(q))), Nil)

  /** Glob matching on its own, after the pass. Each distinct glob list
    * of the pass filters the listing, replicated [[LakeScan.Copies]]
    * times and cached, into a noop sink: task seconds net of the same
    * scan without the filter, summed per class of list (holding a
    * star-run glob, or plain). Then graft's compiles: the pass's glob
    * requests replayed in order on a fresh `PathMatcher`, each building
    * its filter column twice; the first build's extra time over the
    * repeat is the compile the matcher's cache saves the repeat. A
    * request compiled if that extra is over [[LakeScan.CompileShare]] of
    * what compiling its list with `Globs.compileAny` costs. Medians over
    * [[LakeScan.Rounds]] fresh matchers. */
  override def legs(spark: SparkSession, t: Tracer): Map[String, Double] = {
    import LakeScan._
    val globReqs = requests.filter(q => q.s("kind") == "glob" || q.s("kind") == "not")
    val keys = manifest.select("event_id", "key")
      .crossJoin(spark.range(Copies).withColumnRenamed("id", "copy")).select("event_id", "key")
    keys.cache()
    val rows = keys.count().toDouble
    val byClass = globReqs.groupBy(_.strs("patterns")).values.map(_.minBy(_.id)).toSeq.sortBy(_.id)
      .map { q =>
        val filtered =
          if (q.s("kind") == "glob") matcher.filterMatching(keys, q.strs("patterns"))
          else matcher.filterNot(keys, q.strs("patterns"))
        val (net, _) = netBusy(spark, t, 3)(filtered, keys)
        (if (q.p.getOrElse("star_run", false) == true) "star" else "plain", net)
      }.groupBy(_._1)
    keys.unpersist()

    // per request: (first build - repeat build, compile of its list alone)
    val key = col("key")
    val timed = (1 to Rounds).map { _ =>
      val m = Graft.matcher()
      globReqs.map { q =>
        val (neg, pos) = q.strs("patterns").partition(_.startsWith("!"))
        val t0 = System.nanoTime()
        m.isMatch(key, q.strs("patterns"): _*)
        val t1 = System.nanoTime()
        m.isMatch(key, q.strs("patterns"): _*)
        val t2 = System.nanoTime()
        Globs.compileAny(pos)
        if (neg.nonEmpty) Globs.compileAny(neg.map(_.drop(1)))
        val t3 = System.nanoTime()
        ((t1 - t0) - (t2 - t1), t3 - t2)
      }
    }.transpose.map(rs => (Stats.median(rs.map(_._1 / 1e9)), Stats.median(rs.map(_._2 / 1e9))))
    val compiles = timed.collect { case (saved, compile) if saved > CompileShare * compile => saved }

    Seq("star", "plain").flatMap { cls =>
      val lists = byClass.getOrElse(cls, Nil)
      Seq(s"functions.glob_rows.$cls" -> rows * lists.size,
        s"functions.glob_busy_s.$cls" -> math.max(lists.map(_._2).sum, 0.0))
    }.toMap ++ Map(
      "functions.glob_compiles" -> compiles.size.toDouble,
      "functions.glob_compile_s" -> compiles.sum)
  }
}

object LakeScan {
  /** copies of the listing the matching leg scans: 100k keys */
  val Copies = 5
  val Rounds = 41
  /** A first build that compiles costs 1.5-5 times the bare compile on a
    * 4-core x86 host, a first build of a list compiled earlier under 0.5
    * times: this splits the two. */
  val CompileShare = 0.8
}

/** The iterative ladders and parameter sweeps of the LLM-data layer on
  * the seeded documents/embeddings tables. */
final class LlmAudit(input: String, val requests: Seq[Req]) extends Workload {
  import Workload._
  private def build(spark: SparkSession, q: Req) = graft.SparkEntry.queries(q.s("key"))(spark, input)

  def prepare(spark: SparkSession): Unit =
    Seq("documents", "embeddings").foreach(t => spark.read.parquet(s"$input/$t.parquet").count())
  def run(spark: SparkSession, q: Req, t: Tracer, out: String): Unit = {
    val df = t.span(s"build ${q.label}", "entry")(build(spark, q))
    t.span("sink", "bench")(sink(df, out))
  }

  def check(outOf: Int => String): (Seq[Check], Seq[Int]) =
    (requests.map(q => Check(q.id, outOf(q.id), graft.SparkEntry.oracleSql(q.s("key")))), Nil)

  /** ns per row of each graft_* kernel, called through SQL over the
    * corpus replicated 100 times, net of the same query without the
    * kernel. */
  override def legs(spark: SparkSession, t: Tracer): Map[String, Double] = {
    val copies = 100
    spark.read.parquet(s"$input/documents.parquet")
      .crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
      .selectExpr("text", "graft_shingle_hashes(text) AS sh")
      .createOrReplaceTempView("pb_docs")
    spark.read.parquet(s"$input/embeddings.parquet")
      .crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
        "reverse(transform(embedding, x -> CAST(x AS DOUBLE))) AS w")
      .createOrReplaceTempView("pb_vecs")
    Seq("pb_docs", "pb_vecs").foreach { v => spark.table(v).cache(); spark.table(v).count() }
    val calls = Seq(
      "minhash" -> ("pb_docs", "graft_minhash(sh)", "sh"),
      "simhash_bands" -> ("pb_docs", "graft_simhash_bands(sh)", "sh"),
      "shingle_hashes" -> ("pb_docs", "graft_shingle_hashes(text)", "text"),
      "polyhash" -> ("pb_docs", "graft_polyhash(text)", "text"),
      "jaccard" -> ("pb_docs", "graft_jaccard(sh, reverse(sh))", "reverse(sh)"),
      "lsh_buckets" -> ("pb_vecs", "graft_lsh_buckets(v)", "v"),
      "lsh_buckets_param" -> ("pb_vecs", "graft_lsh_buckets_param(v, 8, 12)", "v"),
      "project" -> ("pb_vecs", "graft_project(v)", "v"),
      "cosine" -> ("pb_vecs", "graft_cosine(v, w)", "w"))
    val res = calls.map { case (fn, (view, withK, without)) =>
      val (net, rows) = netBusy(spark, t, 3)(spark.sql(s"SELECT $withK AS out FROM $view"),
        spark.sql(s"SELECT $without AS out FROM $view"))
      s"expressions.$fn.ns_per_row" -> math.max(net * 1e9 / math.max(rows, 1.0), 0.0)
    }.toMap
    Seq("pb_docs", "pb_vecs").foreach(v => spark.table(v).unpersist())
    res
  }
}
