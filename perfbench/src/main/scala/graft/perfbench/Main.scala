package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.queries.QueryModule
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. `run.py` writes a plan (the seeded inputs)
  * and reads back a raw record of what happened; all arithmetic on the
  * record (percentiles, failure counts, fingerprint checks) is done in
  * Python.
  *
  * Usage: Main run <plan.tsv> <result.json>
  *        Main record <data dir> <cpus> <session.conf> <out.tsv> [verify dir]
  */
object Main {
  val AnalyticsModules: Seq[String] = Seq("Relational", "Aggregations", "GroupBys",
    "Joins", "Positional", "Strings", "MissingData", "UnaryMath", "Windows", "SetOps",
    "Sampling", "TpchDeep", "PandasExt", "Spectral", "Lakehouse", "IoQ")
  val CurationModules: Seq[String] = Seq("Dedup", "TextAnalysis", "Similarity",
    "Fingerprints", "CorpusQuality", "CorpusStats", "MultimodalQ", "Pipelines")

  def moduleName(m: QueryModule): String = m.getClass.getSimpleName.stripSuffix("$")
  def modules(names: Seq[String]): Seq[QueryModule] = {
    val byName = SparkEntry.modules.map(m => moduleName(m) -> m).toMap
    names.map(byName)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: plan :: out :: Nil => new Runner(Plan.read(Paths.get(plan))).run(Paths.get(out))
    case "record" :: data :: cpus :: conf :: out :: verify =>
      Record.run(data, cpus, Paths.get(conf), Paths.get(out), verify.headOption)
    case _ =>
      System.err.println("usage: Main run <plan> <result> | Main record <data> <cpus> <conf> <out> [verify]")
      sys.exit(2)
  }

  /** Session settings from `session.conf`, `${cpus}` substituted. */
  def settings(conf: Path, cpus: String): Seq[(String, String)] =
    Files.readAllLines(conf, UTF_8).asScala.toSeq.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.indexOf('=')
        l.take(i) -> l.drop(i + 1).replace("${cpus}", cpus)
      }

  def session(conf: Seq[(String, String)], localDir: String): SparkSession = {
    val b = SparkSession.builder()
    conf.foreach {
      case ("master", v) => b.master(v)
      case (k, v) => b.config(k, v)
    }
    // Spark's scratch space stays inside the benchmark's work directory.
    val s = b.config("spark.local.dir", localDir).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Tables.prep(s)
  }

  /** Order-independent fingerprint of a result — row count and the
    * decimal sum of each row's xxhash64, as `ScaleStress.fingerprint`
    * computes it — observed while the rows stream into the `noop` sink,
    * so the timed action is a single full materialization.
    */
  def fingerprintExprs(df: DataFrame): Seq[Column] = {
    val cols = df.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    Seq(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("s"))
  }

  def materialize(df: DataFrame): (Long, String) = {
    val obs = Observation()
    df.observe(obs, fingerprintExprs(df).head, fingerprintExprs(df).tail: _*)
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    (r("n").asInstanceOf[Long], r("s").toString)
  }

  /** The plain fingerprint aggregation, for frames read back from disk. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val e = fingerprintExprs(df)
    val r = df.agg(e.head, e.tail: _*).first()
    (r.getLong(0), r.getDecimal(1).toString)
  }
}

/** The seeded inputs for one run, as written by `run.py`: one record per
  * line, tab-separated, first field the record kind.
  */
final case class Plan(conf: Map[String, String], queries: Seq[(Int, String)], core: Seq[String],
    evalDocs: Seq[Int], batches: Seq[(Int, Long)], docs: Seq[Plan.Doc]) {
  def apply(k: String): String = conf(k)
}

object Plan {
  /** A staged document: `fresh` carries its text; `copy`, `neardup` and
    * `leak` name a standing document by its rank among eligible ones.
    */
  final case class Doc(batch: Int, id: Long, kind: String, src: Int, text: String)

  def read(p: Path): Plan = {
    val rows = Files.readAllLines(p, UTF_8).asScala.toSeq.filter(_.nonEmpty).map(_.split("\t", -1))
    Plan(
      rows.collect { case Array("set", k, v) => k -> v }.toMap,
      rows.collect { case Array("query", pass, n) => (pass.toInt, n) },
      rows.collect { case Array("core", n) => n },
      rows.collect { case Array("eval", r) => r.toInt },
      rows.collect { case Array("batch", i, due) => (i.toInt, due.toLong) },
      rows.collect { case Array("doc", b, id, kind, src, text) =>
        Doc(b.toInt, id.toLong, kind, src.toInt, text) })
  }
}

/** Minimal JSON writer for the raw record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

final class Runner(plan: Plan) {
  import Main._

  private val workload = plan("workload")
  private val data = plan("data")
  private val work = Paths.get(plan("work"))
  private val trace = plan("trace") == "1"
  private val conf = settings(Paths.get(plan("session_conf")), plan("cpus"))
  private val spans = new Spans
  private val layers = new Layers(spans)
  private val out = mutable.LinkedHashMap.empty[String, String]
  private val ops = mutable.ArrayBuffer.empty[String]
  private val errors = mutable.ArrayBuffer.empty[String]

  private def span[T](name: String, label: String = "")(body: => T): T =
    if (trace) spans(name, label)(body) else body

  private def op(name: String, kind: String, lat: Double, result: Either[Throwable, (Long, String)],
      extra: Seq[(String, String)] = Nil): Unit =
    ops += Json.obj(Seq("name" -> Json.str(name), "kind" -> Json.str(kind),
      "lat" -> Json.num(lat)) ++ extra ++ (result match {
      case Right((n, s)) => Seq("ok" -> "true", "n" -> n.toString, "sum" -> Json.str(s))
      case Left(e) => Seq("ok" -> "false", "err" -> Json.str(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    }))

  private def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Throwable => Left(e) }

  private def setupModules: Seq[QueryModule] = workload match {
    case "analytics" => modules(AnalyticsModules)
    case _ => Nil
  }

  def run(result: Path): Unit = {
    if (trace) layers.installCodegenCounter()
    val reps = plan("setup_reps").toInt
    val localDir = work.resolve("spark-local").toString
    var s: SparkSession = null
    val setupTimes = (1 to reps).map { r =>
      if (s != null) s.stop()
      val t0 = System.nanoTime()
      span("setup", s"rep$r") {
        s = session(conf, localDir)
        prewarm(s, r)
      }
      (System.nanoTime() - t0) / 1e9
    }
    out("setup_s") = Json.arr(setupTimes.map(Json.num))
    val storage = s.sparkContext.getRDDStorageInfo.filter(_.isCached)
    out("cache") = Json.obj(Seq(
      "artifacts" -> storage.length.toString,
      "mem_bytes" -> storage.map(_.memSize).sum.toString,
      "disk_bytes" -> storage.map(_.diskSize).sum.toString))
    out("settings") = Json.obj(conf.map { case (k, v) => k -> Json.str(v) })

    if (trace) { layers.register(s); org.apache.spark.PerfbenchBus.drain(s.sparkContext); layers.reset() }
    workload match {
      case "ingest" => new Ingest(s, plan, spans, trace, out, ops, errors).run()
      case _ =>
        queries(s)
        if (plan.core.nonEmpty) coreLeg(s)
    }
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(s.sparkContext)
      layers.unregister(s)
      out("layers") = Json.obj(layerValues.map { case (k, v) => k -> Json.num(v) })
      out("listener_s") = Json.num(layers.listenerSeconds)
      Option(layers.lastError.get).foreach(e => errors += s"listener: $e")
      writeSpans(work.resolve("spans.json"))
      out("spans_file") = Json.str(work.resolve("spans.json").toString)
    }
    out("ops") = Json.arr(ops)
    out("errors") = Json.arr(errors.map(Json.str))
    s.stop()
    Files.write(result, Json.obj(out).getBytes(UTF_8))
  }

  private val prewarmTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** The workload's artifact builds. Modules prewarm concurrently, as
    * `Bench` does, so independent builds fill the executor.
    */
  private def prewarm(s: SparkSession, rep: Int): Unit = workload match {
    case "ingest" =>
      val t0 = System.nanoTime()
      span("prewarm", "IngestBands")(Ingest.standingBands(s, data).count())
      prewarmTimes.getOrElseUpdate("IngestBands", mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
    case _ =>
      val parent = if (trace) spans.current else 0
      val threads = setupModules.map { m =>
        val name = moduleName(m)
        val res = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Double]]()
        val t = new Thread(() => {
          val t0 = System.nanoTime()
          res.set(attempt {
            if (trace) spans.under(parent, "prewarm", name)(m.prewarm(s, data)) else m.prewarm(s, data)
            (System.nanoTime() - t0) / 1e9
          })
        }, s"prewarm-$name")
        t.start()
        (name, t, res)
      }
      threads.foreach { case (name, t, res) =>
        t.join()
        res.get() match {
          case Right(secs) => prewarmTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs
          case Left(e) => throw new RuntimeException(s"prewarm($name) failed in setup rep $rep", e)
        }
      }
  }

  /** The closed loop: one client, the next query after the previous
    * result, each timed from construction through full materialization.
    * The plan repeats the query set in passes; each pass is timed too.
    */
  private def queries(s: SparkSession): Unit = {
    val all = SparkEntry.queries
    val passes = plan.queries.groupBy(_._1).toSeq.sortBy(_._1)
    out("pass_s") = Json.arr(passes.map { case (pass, names) =>
      val t0 = System.nanoTime()
      names.foreach { case (_, name) => query(s, all, pass, name) }
      Json.num((System.nanoTime() - t0) / 1e9)
    })
  }

  private def query(s: SparkSession, all: Map[String, (SparkSession, String) => DataFrame],
      pass: Int, name: String): Unit = {
    val t0 = System.nanoTime()
    val r = span("query", name) {
      attempt {
        s.sparkContext.setJobDescription(s"construct:$name")
        val df = span("construct", name)(all(name)(s, data))
        s.sparkContext.setJobDescription(s"execute:$name")
        span("execute", name)(materialize(df))
      }
    }
    s.sparkContext.setJobDescription(null)
    op(name, "query", (System.nanoTime() - t0) / 1e9, r, Seq("pass" -> pass.toString))
    r.left.foreach(e => errors += s"$name: $e")
  }

  /** Layer (d): each pandas-shaped pipeline beside the DataFrame plan a
    * user would write by hand.
    */
  private def coreLeg(s: SparkSession): Unit = {
    var baloo = 0.0; var hand = 0.0; var samePlan = 0
    plan.core.foreach { name =>
      val (b, h) = Core.pair(name, s, data)
      def timed(side: String, f: () => DataFrame): (Double, Either[Throwable, (Long, String)], Option[DataFrame]) = {
        val t0 = System.nanoTime()
        var built: Option[DataFrame] = None
        val r = span("core", s"$name.$side")(attempt { val df = f(); built = Some(df); materialize(df) })
        val secs = (System.nanoTime() - t0) / 1e9
        op(s"core.$name.$side", "core", secs, r)
        (secs, r, built)
      }
      val (bs, br, bdf) = timed("baloo", b)
      val (hs, hr, hdf) = timed("hand", h)
      baloo += bs; hand += hs
      for (x <- bdf; y <- hdf)
        if (x.queryExecution.optimizedPlan.sameResult(y.queryExecution.optimizedPlan)) samePlan += 1
      (br, hr) match {
        case (Right(x), Right(y)) if x != y => errors += s"core.$name: baloo $x != hand $y"
        case _ =>
      }
    }
    out("core") = Json.obj(Seq("baloo_s" -> Json.num(baloo), "hand_s" -> Json.num(hand),
      "plan_same" -> samePlan.toString, "pairs" -> plan.core.size.toString))
  }

  private def layerValues: Seq[(String, Double)] = {
    val names = Seq("tables.scan_bytes", "tables.scan_rows", "tables.scans",
      "queries.construct_jobs", "plan.s", "plan.analysis_s", "plan.optimization_s",
      "plan.planning_s", "plan.nodes", "plan.queries", "exec.run_s", "exec.jobs", "exec.stages",
      "exec.tasks", "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_bytes",
      "exec.shuffle_read_bytes", "exec.shuffle_fetch_wait_s", "exec.spill_bytes",
      "exec.exchanges", "exec.bhj", "exec.smj", "exec.shj", "exec.wscg_stages",
      "caches.reads", "streaming.batches", "streaming.rows", "streaming.batch_s",
      "streaming.add_batch_s", "streaming.state_rows", "sources.write_bytes")
    names.map(n => n -> layers.get(n)) ++ Seq(
      "exec.peak_mem_bytes" -> layers.peakMem.get.toDouble,
      "exec.codegen_fallbacks" -> layers.codegenFallbacks.get.toDouble) ++
      prewarmTimes.map { case (m, ts) => s"caches.prewarm_s.$m" -> ts.sorted.apply(ts.size / 2) }
  }

  private def writeSpans(p: Path): Unit = {
    val self = spans.selfTimes
    val rows = spans.all.map { sp =>
      Json.obj(Seq("id" -> sp.id.toString, "parent" -> sp.parent.toString,
        "name" -> Json.str(sp.name), "label" -> Json.str(sp.label),
        "start_ns" -> sp.start.toString, "dur_s" -> Json.num((sp.end - sp.start) / 1e9),
        "self_s" -> Json.num(self(sp.id) / 1e9)))
    }
    Files.write(p, Json.arr(rows).getBytes(UTF_8))
  }
}
