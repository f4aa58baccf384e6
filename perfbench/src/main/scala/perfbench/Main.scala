package perfbench

import graft.SparkEntry
import graft.etl.{MySqlSink, Redirects, WikiEtl, WikiText, WikiXml}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The repo benchmark's measurement JVM. A run generates a dump from the
  * seed, warms up with untimed iterations on a small dump and on the
  * measured one, then repeats the dump→database path for `--seconds`:
  * `WikiEtl.run`, the exactly-once JDBC load of both tables into embedded
  * Derby, and the parquet write, each iteration checked against the
  * in-JVM [[Model]]. With `--trace 1` the first half of the time goes to
  * ETL rounds with spans and each layer timed alone, the second half to
  * the near-dup query set over a generated corpus in the shape of the
  * sf0.1 test tables.
  * The last stdout line is the run's JSON record; run.py turns it into the
  * benchmark's result line.
  *
  * Usage: perfbench.Main --workload etl_markup|etl_redirects --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE [--tiny]
  *   [--corrupt-model] [--dup-redirect-titles]
  */
object Main {
  /** The near-dup query set: the battery's cost centre plus the query
    * that shares `WikiText` with the ETL. */
  val Queries = Seq("q_pipeline_e2e", "q_dedup_survivor", "q_incr_neardup",
    "q_semdedup_cluster", "q_wiki_clean", "q_winnow_pairs")

  /** Pages of the warm-up dump. */
  val WarmupPages = 300

  /** Runs of the JDBC load, and of the parquet write, per iteration. Each
    * takes 0.3–0.9 s and got faster over a run's first iterations (Derby
    * and the writers warm up), so one run per iteration left their rates
    * on two or three samples, mostly warming ones. */
  val SinkRuns = 3

  /** `tiny` (the smoke test's inputs) shrinks the dump to the warm-up's
    * size and the query corpus to a twentieth of sf0.1. */
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String,
                        tiny: Boolean, corruptModel: Boolean, dupRedirectTitles: Boolean) {
    def pages: Int = if (tiny) WarmupPages else if (workload == "etl_markup") 1500 else 2000
    def docs: Int = if (tiny) Gen.Sf01Docs / 20 else Gen.Sf01Docs
    def vecs: Int = if (tiny) Gen.Sf01Vecs / 20 else Gen.Sf01Vecs
  }

  def parse(args: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    val flags = mutable.Set.empty[String]
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case (f @ ("--tiny" | "--corrupt-model" | "--dup-redirect-titles")) :: t => flags += f; rest = t
      case k :: v :: t if k.startsWith("--") => m(k.drop(2)) = v; rest = t
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    val workload = m("workload")
    require(Set("etl_markup", "etl_redirects")(workload), s"unknown workload $workload")
    Args(workload, m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("out"), flags("--tiny"), flags("--corrupt-model"), flags("--dup-redirect-titles"))
  }

  /** Drops every cached block and checkpoint left by the last operation,
    * as `graft.Bench` does between queries, so each operation starts from
    * an empty block manager. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Before each iteration: collect the last iteration's garbage
    * so the ContextCleaner drains outside the clock (as `graft.Bench`
    * does), then wait, at most one second, until the JIT compiler has
    * been idle for 100 ms, so queued compilations do not compete with the
    * next iteration's tasks. */
  def settle(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val until = System.nanoTime() + 1000000000L
    var last = jit.getTotalCompilationTime
    var idle = false
    while (!idle && System.nanoTime() < until) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      idle = now - last < 5
      last = now
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the session the query battery's own entry points (Bench, Verify)
      // create: graft's SQL extensions and a generated-class cache that
      // holds every plan of the set
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = new Record
    try run(spark, a, jvmStartMs, cores, rec)
    catch {
      case e: Throwable =>
        rec.str("error", s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      val json = rec.json
      Files.writeString(Paths.get(a.out), json)
      println(json)
      spark.stop()
    }
  }

  private def run(spark: SparkSession, a: Args, jvmStartMs: Long, cores: Int,
                  rec: Record): Unit = {
    val sc = spark.sparkContext
    val probe = new Probe(sc)
    sc.addSparkListener(probe)
    val tracer = new Tracer(sc)

    def generate(seed: Long, n: Int, file: String): (Dump, Model) = {
      val pages = if (a.workload == "etl_markup") Gen.markupDump(seed, n)
                  else Gen.redirectDump(seed, n, a.dupRedirectTitles)
      (Gen.writeDump(pages, s"${a.work}/$file"), Model.of(pages))
    }
    val (dump, model0) = generate(a.seed, a.pages, "pages-articles.xml")
    // the smoke test's deliberately wrong model: one article points at the
    // next body
    val model = if (!a.corruptModel) model0 else model0.copy(articles =
      model0.articles.updated(0, model0.articles(0).copy(body = model0.articles(0).body % model0.nBodies + 1)))
    rec.str("workload", a.workload).num("seed", a.seed.toDouble)
      .num("cores", cores).num("dump_bytes", dump.bytes.toDouble)
    dump.counts.foreach { case (k, v) => rec.num(s"dump.$k", v.toDouble) }
    rec.num("dump.redirect_cycles", Gen.cycleCount(dump.pages))
      .num("dump.redirects_dropped", model.dropped)
      .obj("dump.chain_length_histogram",
        model.hopsHistogram.toSeq.sorted.map { case (k, v) => k.toString -> v.toDouble })
    val etl = new Etl(spark, dump, model, probe, tracer, a.work)

    // warm-up, untimed: one iteration on a small dump of the same shape,
    // then one on the measured dump, each settled like a timed one. The
    // first iteration in a JVM is mostly class loading, code generation and
    // JIT work that does not shrink with the dump (well over a hundred jobs
    // are planned per iteration on etl_redirects). With two small warm-up
    // iterations and no settle, the first timed iteration on etl_redirects
    // ran ~0.8 s slower than the second; with these, ~0.4 s.
    val (wDump, wModel) = generate(a.seed + 1, WarmupPages, "warmup.xml")
    val warm = new Etl(spark, wDump, wModel, probe, tracer, a.work)
    warm.iteration()
    etl.iteration()
    rec.num("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)

    val t0 = System.nanoTime()
    def before(share: Double): Boolean = System.nanoTime() < t0 + (a.seconds * share * 1e9).toLong
    val queries = if (!a.trace) {
      val its = mutable.ArrayBuffer.empty[Option[Iter]]
      do its += etl.iteration() while (before(1.0))
      etl.report(its.flatten.toSeq, rec)
      None
    } else {
      def traced[T](name: String)(body: => T): T = {
        tracer.iter += 1
        tracer.on = true
        try tracer(name)(body) finally tracer.on = false
      }
      // ETL rounds for the first half. A round is balanced in itself,
      // untraced-traced-traced-untraced on one code path, so drift over the
      // run cancels out of the tracing overhead even when one round fits;
      // then each layer is timed alone.
      val plainIts = mutable.ArrayBuffer.empty[Option[Iter]]
      val tracedIts = mutable.ArrayBuffer.empty[Option[Iter]]
      do {
        plainIts += etl.iteration()
        tracedIts += traced("iteration")(etl.iteration(probeSink = true))
        tracedIts += traced("iteration")(etl.iteration(probeSink = true))
        plainIts += etl.iteration()
        traced("layers")(etl.layers())
      } while (before(0.5))
      etl.reportLayers(tracedIts.flatten.toSeq, rec)
      rec.num("trace.overhead_s", Stats.mean(tracedIts.flatten.map(_.dumpToDbS).toSeq) -
        Stats.mean(plainIts.flatten.map(_.dumpToDbS).toSeq))

      // the near-dup query set for the second half. The untimed first pass
      // runs on a corpus of the same shape at a fifth of the size and keeps
      // its results for the check (the DuckDB oracle of q_semdedup_cluster
      // is quadratic in the vectors: ~30 s at the full size on 4 cores).
      val tables = s"${a.work}/tables"
      val checkTables = s"${a.work}/check/tables"
      val results = s"${a.work}/check/results"
      Gen.queryCorpus(spark, a.seed, a.docs, a.vecs, tables)
      Gen.queryCorpus(spark, a.seed + 1, a.docs / 5, a.vecs / 5, checkTables)
      rec.num("query.documents", a.docs).num("query.embeddings", a.vecs)
        .num("query.checked_documents", a.docs / 5).num("query.checked_embeddings", a.vecs / 5)
      val qs = new QuerySet(spark, probe, tracer)
      qs.pass(checkTables, Some(results))
      do traced("queries")(qs.pass(tables)) while (before(1.0))
      qs.report(rec)
      val spansOut = a.out.stripSuffix(".json") + ".spans.jsonl"
      Files.writeString(Paths.get(spansOut), tracer.all.map { s =>
        Json.write(Json.obj("id" -> s.id, "iter" -> s.iter, "name" -> s.name,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      }.mkString("", "\n", "\n"))
      rec.str("spans", spansOut)
        .obj("jobs_by_call_site", probe.sites.asScala.toSeq.map { case (k, v) => k -> v.get.toDouble }.sortBy(-_._2))
      qs.check(checkTables, results, rec)
      Some(qs)
    }
    etl.check()
    val parts = Seq(warm.counts, etl.counts) ++ queries.map(_.counts)
    val attempted = parts.map(_._1).sum
    val failed = parts.map(_._2).sum
    rec.num("attempted", attempted.toDouble).num("failed", failed.toDouble)
      .num("failed_frac", failed.toDouble / attempted)
      .arr("failures", parts.flatMap(_._3))
  }
}

/** One timed ETL iteration's measurements. `jdbcS` and `parquetS` hold
  * one entry per run of the load and of the write; the first load is the
  * one the dump→database path counts. `rows` is the rows promoted into
  * Derby, which are also the rows written as parquet; the stage-write and
  * promote seconds are 0 unless the sink was also timed alone. */
final case class Iter(etlS: Double, jdbcS: Seq[Double], parquetS: Seq[Double], rows: Long,
                      cpuS: Double, cachedBytes: Long, gcS: Double,
                      parquetBytes: Long, stageWriteS: Double, promoteS: Double) {
  def dumpToDbS: Double = etlS + jdbcS.head
  def jdbcRowsPerS: Seq[Double] = jdbcS.map(rows / _)
  def parquetRowsPerS: Seq[Double] = parquetS.map(rows / _)
}

/** The dump→database path and its layer probes. */
final class Etl(spark: SparkSession, dump: Dump, model: Model, probe: Probe,
                tracer: Tracer, work: String) {
  private val sc = spark.sparkContext
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val pqDir = s"$work/parquet"
  private val bodyCols = Seq("id", "body")
  private val articleCols = Seq("id", "aid", "title", "body")
  private def articlesStageDdl(stage: String): Seq[String] = Seq(
    s"""CREATE TABLE $stage (
       |  id BIGINT NOT NULL, aid BIGINT NOT NULL,
       |  title VARCHAR(1027) NOT NULL, body BIGINT NOT NULL,
       |  graft_seq BIGINT GENERATED ALWAYS AS IDENTITY)""".stripMargin,
    s"CREATE INDEX ix_${stage}_id ON $stage (id)")

  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.LinkedHashSet.empty[String]

  def counts: (Long, Long, Seq[String]) = (attempted, failed, failures.toSeq)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** An iteration's operations: the ETL run and two commits per load.
    * A wrong output fails the operations that made it; an exception fails
    * all of them and the iteration has no timings. `probeSink` also times
    * the sink's steps alone after the clock stops. */
  def iteration(probeSink: Boolean = false): Option[Iter] = {
    val ops = 1 + 2 * Main.SinkRuns
    attempted += ops
    try {
      val (it, bad) = measure(probeSink)
      failed += bad
      Some(it)
    } catch {
      case e: Exception =>
        e.printStackTrace()
        failed += ops
        failures += s"iteration: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** dump → both tables committed in Derby, then the parquet write; the
    * load and the write each run [[Main.SinkRuns]] times. Each phase is
    * timed on its own; listener reads happen between phases. The outputs
    * are checked against the model outside the clocks. Returns the timings
    * and the number of operations whose output was wrong. */
  private def measure(probeSink: Boolean): (Iter, Int) = {
    Main.settle()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pqDir))
    probe.drain()
    val cpu0 = probe.total.cpuNs.get
    val gc0 = Probe.gcSeconds

    var t = System.nanoTime()
    val out = tracer("wikietl.run")(WikiEtl.run(spark, dump.path))
    // persisted as graft.Dbfy does, so both sinks read one materialization
    val articles = out.articles.persist(StorageLevel.MEMORY_AND_DISK)
    tracer("wikietl.materialize") { out.bodies.count(); articles.count() }
    val etlS = secs(t)
    probe.drain()
    val cpuS = (probe.total.cpuNs.get - cpu0) / 1e9
    val cached = Probe.storageBytes(sc)

    val loads = (1 to Main.SinkRuns).map(_ => load(out.bodies, articles))

    val parquetS = (1 to Main.SinkRuns).map { _ =>
      t = System.nanoTime()
      tracer("parquet.write") {
        out.bodies.write.mode("overwrite").parquet(s"$pqDir/bodies")
        articles.write.mode("overwrite").parquet(s"$pqDir/articles")
      }
      secs(t)
    }
    val gcS = Probe.gcSeconds - gc0

    val etlOk = checkTables(out.bodies, articles)
    val parquetBytes = dirBytes(pqDir)
    val (stageWriteS, promoteS) = if (probeSink) sinkAlone(out.bodies, articles) else (0.0, 0.0)
    out.cleanup()
    articles.unpersist(blocking = true)
    Main.release(spark)
    (Iter(etlS, loads.map(_._2), parquetS, loads.head._1, cpuS, cached, gcS, parquetBytes,
      stageWriteS, promoteS),
      (if (etlOk) 0 else 1) + 2 * loads.count(!_._3))
  }

  /** Both tables into a fresh database through
    * `MySqlSink.exactlyOnceAppend`, bodies then articles. Returns the rows
    * promoted, the seconds, and whether Derby then holds the model's row
    * counts (checked outside the clock). */
  private def load(bodies: DataFrame, articles: DataFrame): (Long, Double, Boolean) = {
    MySqlSink.derbyReset(url, "app", "app")
    MySqlSink.bootstrap(url, "app", "app", MySqlSink.derbyDdl)
    val t = System.nanoTime()
    val promoted = tracer("mysqlsink.bodies")(MySqlSink.exactlyOnceAppend(
      bodies, url, "app", "app", "bodies", MySqlSink.derbyStageDdl, bodyCols, Seq("id"))) +
      tracer("mysqlsink.articles")(MySqlSink.exactlyOnceAppend(
        articles, url, "app", "app", "articles", articlesStageDdl, articleCols, Seq("id")))
    val s = secs(t)
    val derby = count("bodies") -> count("articles")
    val want = model.nBodies -> model.articles.size.toLong
    if (derby != want) failures += s"derby: counts $derby, model $want"
    (promoted, s, derby == want)
  }

  /** The two steps of `MySqlSink.exactlyOnceAppend`, each timed alone
    * through its public call, on the iteration's persisted outputs and a
    * fresh database: the write into the stage table and the promote.
    * Returns their seconds summed over both tables. */
  private def sinkAlone(bodies: DataFrame, articles: DataFrame): (Double, Double) = {
    MySqlSink.derbyReset(url, "app", "app")
    MySqlSink.bootstrap(url, "app", "app", MySqlSink.derbyDdl)
    val tables = Seq[(String, DataFrame, String => Seq[String], Seq[String])](
      ("bodies", bodies, MySqlSink.derbyStageDdl, bodyCols),
      ("articles", articles, articlesStageDdl, articleCols))
    tables.map { case (table, df, ddl, cols) =>
      val stage = table + "_stg"
      MySqlSink.bootstrap(url, "app", "app", ddl(stage))
      var t = System.nanoTime()
      tracer("mysqlsink.stage_write") {
        MySqlSink.writer(df.selectExpr(cols: _*), url, stage, "app", "app").save()
      }
      val w = secs(t)
      t = System.nanoTime()
      tracer("mysqlsink.promote") {
        MySqlSink.promoteStage(url, "app", "app", table, stage, cols, Seq("id"))
      }
      (w, secs(t))
    }.reduce((x, y) => (x._1 + y._1, x._2 + y._2))
  }

  private def dirBytes(dir: String): Long =
    org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), Array("parquet"), true)
      .toArray.map(_.asInstanceOf[java.io.File].length()).sum

  /** The outputs against the model: row counts, dense body ids 1..n,
    * every (id, aid, title, body) article row, FK closure and the parquet
    * row counts. Returns whether the ETL output is right. */
  private def checkTables(bodies: DataFrame, articles: DataFrame): Boolean = {
    val bad = mutable.ArrayBuffer.empty[String]
    val ids = bodies.select("id").collect().map(_.getLong(0)).sorted
    if (!ids.sameElements(1L to model.nBodies)) bad += "bodies: ids are not 1..n"
    val got = articles.collect().map(r =>
      Article(r.getAs[Long]("id"), r.getAs[Long]("aid"), r.getAs[String]("title"), r.getAs[Long]("body")))
      .sortBy(_.id).toVector
    if (got.size != model.articles.size) bad += s"articles: ${got.size} rows, model ${model.articles.size}"
    else if (got != model.articles) bad += "articles: rows differ from the model"
    if (!got.forall(r => r.body >= 1 && r.body <= ids.length)) bad += "articles: body outside bodies.id"
    val want = model.nBodies -> model.articles.size.toLong
    val pq = spark.read.parquet(s"$pqDir/bodies").count() -> spark.read.parquet(s"$pqDir/articles").count()
    if (pq != want) bad += s"parquet: counts $pq, model $want"
    failures ++= bad
    bad.isEmpty
  }

  private def count(table: String): Long = {
    val conn = java.sql.DriverManager.getConnection(url, "app", "app")
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    } finally conn.close()
  }

  /** One-time scan check: the XML layer yields exactly the namespace-0
    * pages the generator wrote. */
  def check(): Unit = {
    attempted += 1
    val n = WikiXml.pages(spark, dump.path).count()
    if (n != dump.counts("main_pages")) {
      failed += 1
      failures += s"wikixml: $n pages, wrote ${dump.counts("main_pages")}"
    }
  }

  private val layerRuns = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Each layer timed alone through its public entry point, on inputs
    * persisted beforehand. */
  def layers(): Unit = {
    val m = mutable.Map.empty[String, Double]
    def timed(name: String)(body: => Unit): Map[String, Long] = {
      probe.drain()
      var id = 0
      val t0 = System.nanoTime()
      tracer(name) { id = tracer.currentId; body }
      m(name + "_s") = secs(t0)
      probe.drain()
      probe.span(id)
    }
    timed("wikixml.scan")(WikiXml.pages(spark, dump.path).write.format("noop").mode("overwrite").save())

    // the pipeline's own first step: scan, spread over the cores, tag redirects
    val pages = WikiXml.pages(spark, dump.path)
      .repartition(sc.defaultParallelism)
      .withColumn("rdr", regexp_extract(col("text"), WikiText.RedirectRegexSql, 1))
      .persist(StorageLevel.MEMORY_AND_DISK)
    pages.count()
    val clean = udf((t: String) => WikiText.cleanWikiBody(t))
    var charsOut = 0L
    timed("wikitext.clean") {
      charsOut = pages.filter(col("rdr") === "").select(sum(length(clean(col("text")))))
        .first().getLong(0)
    }
    m("wikitext.chars_out") = charsOut.toDouble

    val texts = dump.contentTexts
    val sample = texts.take(2000)
    val t1 = System.nanoTime()
    tracer("wikitext.clean_1t")(sample.foreach(WikiText.cleanWikiBody(_)))
    m("wikitext.clean_us_per_page") = secs(t1) * 1e6 / sample.size
    m("wikitext.chars_in") = texts.map(_.length.toDouble).sum

    val keyed = pages.select(col("aid"), col("title")).persist(StorageLevel.MEMORY_AND_DISK)
    keyed.count()
    val dense = timed("wikietl.dense_id")(WikiEtl.withDenseId(keyed, "id", "aid", "title")
      .write.format("noop").mode("overwrite").save())
    m("wikietl.dense_id_jobs") = dense("jobs").toDouble

    val redirects = pages.filter(col("rdr") =!= "").select(col("title").as("src"), col("rdr").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val content = pages.filter(col("rdr") === "").select(col("title"), col("aid").as("bid"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nRedirects = redirects.count()
    content.count()
    var resolved = 0L
    val rs = timed("redirects.resolve") { resolved = Redirects.resolveTransitive(redirects, content).count() }
    m("redirects.jobs") = rs("jobs").toDouble
    m("redirects.hops") = rs("redirect_hops").toDouble
    m("redirects.resolved") = resolved.toDouble
    m("redirects.resolved_frac") = resolved.toDouble / math.max(1L, nRedirects)
    Main.release(spark)
    layerRuns += m.toMap
  }

  def report(its: Seq[Iter], rec: Record): Unit =
    rec.timing("dump_to_db_s", its.map(_.dumpToDbS))
      .timing("etl_s", its.map(_.etlS)).timing("jdbc_s", its.flatMap(_.jdbcS))
      .timing("parquet_s", its.flatMap(_.parquetS))
      .num("etl_pages_per_s", dump.counts("pages") / Stats.median(its.map(_.etlS)))
      .num("jdbc_rows_per_s", Stats.median(its.flatMap(_.jdbcRowsPerS)))
      .num("parquet_rows_per_s", Stats.median(its.flatMap(_.parquetRowsPerS)))
      .num("etl_cpu_s", Stats.median(its.map(_.cpuS)))
      .num("cached_mb", Stats.median(its.map(_.cachedBytes / 1e6)))
      .num("stored_bytes_per_input_byte", Stats.median(its.map(_.parquetBytes.toDouble)) / dump.bytes)
      .num("jvm.gc_s", Stats.median(its.map(_.gcS)))

  /** Per-layer metrics: the traced iterations' `wikietl.*` spans with the
    * Spark work charged to them, and the medians of the layer probes. */
  def reportLayers(its: Seq[Iter], rec: Record): Unit = {
    def med(k: String): Double = Stats.median(layerRuns.map(_(k)).toSeq)
    val perIter = (tracer.subtree("wikietl.run").toSeq ++ tracer.subtree("wikietl.materialize").toSeq)
      .groupBy(_._1.iter).values.toSeq.map { spans =>
        val c = spans.flatMap(_._2).map(probe.span)
        def sum(k: String): Double = c.map(_(k)).sum.toDouble
        Map("wall" -> spans.map(s => (s._1.endNs - s._1.startNs) / 1e9).sum,
          "jobs" -> sum("jobs"), "stages" -> sum("stages"), "tasks" -> sum("tasks"),
          "cpu" -> sum("cpu_ns") / 1e9, "shuffle" -> sum("shuffle_write") / 1e6,
          "spill" -> sum("spill") / 1e6)
      }
    def iterMed(k: String): Double = Stats.median(perIter.map(_(k)))
    rec.num("wikixml.scan_s", med("wikixml.scan_s"))
      .num("wikixml.pages", dump.counts("main_pages").toDouble)
      .num("wikixml.input_mb_per_s", dump.bytes / 1e6 / med("wikixml.scan_s"))
      .num("wikitext.clean_us_per_page", med("wikitext.clean_us_per_page"))
      .num("wikitext.clean_s", med("wikitext.clean_s"))
      .num("wikitext.chars_in", med("wikitext.chars_in"))
      .num("wikitext.chars_out", med("wikitext.chars_out"))
      .num("wikietl.run_s", iterMed("wall"))
      .num("wikietl.jobs", iterMed("jobs")).num("wikietl.stages", iterMed("stages"))
      .num("wikietl.tasks", iterMed("tasks")).num("wikietl.cpu_s", iterMed("cpu"))
      .num("wikietl.shuffle_write_mb", iterMed("shuffle")).num("wikietl.spill_mb", iterMed("spill"))
      .num("wikietl.cached_mb", Stats.median(its.map(_.cachedBytes / 1e6)))
      .num("wikietl.dense_id_s", med("wikietl.dense_id_s"))
      .num("wikietl.dense_id_jobs", med("wikietl.dense_id_jobs"))
      .num("redirects.resolve_s", med("redirects.resolve_s"))
      .num("redirects.jobs", med("redirects.jobs")).num("redirects.hops", med("redirects.hops"))
      .num("redirects.resolved", med("redirects.resolved"))
      .num("redirects.resolved_frac", med("redirects.resolved_frac"))
      .num("mysqlsink.stage_write_s", Stats.median(its.map(_.stageWriteS)))
      .num("mysqlsink.promote_s", Stats.median(its.map(_.promoteS)))
      .num("mysqlsink.rows", Stats.median(its.map(_.rows.toDouble)))
      .num("mysqlsink.rows_per_s", Stats.median(its.flatMap(_.jdbcRowsPerS)))
      .num("parquet.write_s", Stats.median(its.flatMap(_.parquetS)))
      .num("parquet.bytes", Stats.median(its.map(_.parquetBytes.toDouble)))
      .num("jvm.gc_s", Stats.median(its.map(_.gcS)))
      .num("traced.dump_to_db_s", Stats.median(its.map(_.dumpToDbS)))
  }
}

/** The near-dup query set: each query materialized through a noop sink,
  * as `graft.Bench` does; the results of one untimed pass are kept and
  * checked after the clock stops. */
final class QuerySet(spark: SparkSession, probe: Probe, tracer: Tracer) {
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.LinkedHashSet.empty[String]
  private val ran = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val traced = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Long]]]
  private val passCpu = mutable.ArrayBuffer.empty[Double]

  def counts: (Long, Long, Seq[String]) = (attempted, failed, failures.toSeq)

  /** Runs every query once over the corpus in `tables`, writing each
    * result as parquet under `results` when given. With tracing on, each
    * query is a span and its wall time and Spark counters are kept. */
  def pass(tables: String, results: Option[String] = None): Unit = {
    probe.drain()
    val cpu0 = probe.total.cpuNs.get
    Main.Queries.foreach { q =>
      attempted += 1
      ran(q) += 1
      try {
        var id = 0
        val t0 = System.nanoTime()
        tracer(s"query.$q") {
          id = tracer.currentId
          val df = SparkEntry.queries(q)(spark, tables)
          results.fold(df.write.format("noop").mode("overwrite").save())(dir =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q"))
        }
        val wallNs = System.nanoTime() - t0
        Main.release(spark)
        if (tracer.on) {
          probe.drain()
          traced.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (probe.span(id) + ("wall_ns" -> wallNs))
        }
      } catch {
        case e: Exception => failed += 1; failures += s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    probe.drain()
    if (tracer.on) passCpu += (probe.total.cpuNs.get - cpu0) / 1e9
  }

  /** Per query: median wall, executor CPU, jobs, shuffle write and spill
    * over the traced passes; the set's total is the sum of the per-query
    * median walls. */
  def report(rec: Record): Unit = {
    val walls = Main.Queries.map { q =>
      val runs = traced.getOrElse(q, mutable.ArrayBuffer.empty[Map[String, Long]]).toSeq
      def med(k: String, scale: Double): Double = Stats.median(runs.map(_(k) / scale))
      rec.num(s"query.$q.s", med("wall_ns", 1e9)).num(s"query.$q.cpu_s", med("cpu_ns", 1e9))
        .num(s"query.$q.jobs", med("jobs", 1)).num(s"query.$q.shuffle_mb", med("shuffle_write", 1e6))
        .num(s"query.$q.spill_mb", med("spill", 1e6))
      med("wall_ns", 1e9)
    }
    rec.num("query_total_s", walls.sum).num("query_cpu_s", Stats.median(passCpu.toSeq))
      .num("query.passes", passCpu.size)
  }

  /** Writes the oracle SQL beside the kept results for the DuckDB check
    * in run.py, and checks `q_wiki_clean`, which has no oracle, row by row
    * against `WikiText.cleanWikiBody` applied on this JVM to the same
    * wrapped text. A query whose result is missing failed in the kept
    * pass and is already counted. */
  def check(tables: String, dir: String, rec: Record): Unit = {
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(Paths.get(dir))
    val checked = Main.Queries.filter(oracle.contains)
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      Json.write(Json.obj(checked.map(q => q -> oracle(q)): _*)))
    rec.obj("query_ops", Main.Queries.map(q => q -> ran(q).toDouble))

    val docs = spark.read.parquet(s"$tables/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("lang"), r.getAs[String]("text"), r.getAs[String]("source")))
      .toMap
    if (!Files.exists(Paths.get(s"$dir/q_wiki_clean"))) return
    val got = spark.read.parquet(s"$dir/q_wiki_clean").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val bad = got.count { case (id, cleaned) =>
      val (lang, text, source) = docs(id)
      val wikitext = s"{{infobox|lang=$lang}} '''${text.take(60)}'' <ref>cite</ref> [[$source|src link]] &amp; &#65; <!--hidden--> tail"
      WikiText.cleanWikiBody(wikitext) != cleaned
    }
    if (bad > 0 || got.length != docs.size) {
      failed += ran("q_wiki_clean")
      failures += s"q_wiki_clean: $bad of ${got.length} rows differ from cleanWikiBody (${docs.size} docs)"
    }
  }
}

object Stats {
  /** NaN for no samples: the record then carries null. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  /** A JSON object that keeps its keys in order. */
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def write(v: AnyRef): String = mapper.writeValueAsString(v)
}

/** The run's JSON record, built field by field in insertion order; a NaN
  * or infinite number is written as null. */
final class Record {
  private val fields = Json.obj()
  private def boxed(v: Double): Any = if (v.isNaN || v.isInfinite) null else v
  def num(k: String, v: Double): Record = { fields.put(k, boxed(v)); this }
  def str(k: String, v: String): Record = { fields.put(k, v); this }
  def obj(k: String, kv: Seq[(String, Double)]): Record = {
    fields.put(k, Json.obj(kv.map { case (a, b) => a -> boxed(b) }: _*)); this
  }
  def arr(k: String, xs: Seq[String]): Record = { fields.put(k, xs.asJava); this }
  /** A timing: its median, the sample count, and the highest percentile
    * with at least ten samples beyond it (none below 11 samples). */
  def timing(k: String, xs: Seq[Double]): Record = {
    val n = xs.size
    val s = xs.sorted
    val pct = if (n < 11) Nil else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      Seq(s"p$p" -> s(math.min(n - 1, math.ceil(p / 100.0 * n).toInt - 1)))
    }
    fields.put(k + ".samples", xs.map(boxed).asJava)
    obj(k, Seq("median" -> Stats.median(xs), "n" -> n.toDouble) ++ pct)
  }
  def json: String = Json.write(fields)
}
