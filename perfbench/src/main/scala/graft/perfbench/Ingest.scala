package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Caches, Tables}
import graft.queries.Fingerprints
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The open-loop ingest workload: seeded micro-batches land one file per
  * batch on a fixed schedule; one streaming query decontaminates each
  * batch against an eval set, gates it against the standing band index,
  * appends the admitted documents to a parquet sink and merges their
  * bands back into the index.
  */
object Ingest {
  val BandsKey = "perfbench_ingest_bands"
  /** Copies, near-dups and leaks are drawn from documents this long, so
    * a one-word edit keeps their MinHash bands colliding.
    */
  val MinWords = 40

  def standingBands(s: SparkSession, dir: String): DataFrame =
    Caches.memo(s, dir, BandsKey)(
      Fingerprints.bandTableOf(s, Tables.documents(s, dir).select("doc_id", "text")))
}

final class Ingest(s: SparkSession, plan: Plan, spans: Spans, trace: Boolean,
    out: mutable.Map[String, String], ops: mutable.Buffer[String],
    errors: mutable.Buffer[String]) {
  import Ingest._

  private val dir = plan("data")
  private val work = java.nio.file.Paths.get(plan("work"))
  private val minHits = plan("min_hits").toInt

  private def span[T](name: String, label: String = "")(body: => T): T =
    if (trace) spans(name, label)(body) else body

  /** Materialize the planted texts and stage one JSON file per batch. */
  private def stage(staged: Path): Seq[Long] = {
    val eligible = Tables.documents(s, dir).select("doc_id", "text")
      .filter(size(split(col("text"), " ")) >= MinWords).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val evalSet = plan.evalDocs.map(r => eligible(r % eligible.size)).distinct
    val evalIds = evalSet.map(_._1).toSet
    val sources = eligible.filterNot(d => evalIds(d._1))
    Files.createDirectories(staged)
    plan.docs.groupBy(_.batch).foreach { case (b, docs) =>
      val lines = docs.map { d =>
        val text = d.kind match {
          case "fresh" => d.text
          case "copy" => sources(d.src % sources.size)._2
          case "neardup" =>
            val w = sources(d.src % sources.size)._2.split(" ")
            (w.init :+ d.text).mkString(" ")
          case "leak" => d.text + " " + evalSet(d.src % evalSet.size)._2
        }
        Json.obj(Seq("doc_id" -> d.id.toString, "text" -> Json.str(text), "b" -> b.toString))
      }
      Files.write(staged.resolve(f"batch-$b%05d.json"), lines.mkString("\n").getBytes(UTF_8))
    }
    evalSet.map(_._1)
  }

  def run(): Unit = {
    val staged = work.resolve("staged")
    val landing = work.resolve("landing")
    val sink = work.resolve("sink").toString
    Files.createDirectories(landing)
    val evalIds = stage(staged)
    val evalHashes = Tables.documents(s, dir).filter(col("doc_id").isin(evalIds: _*))
      .select(explode(StreamOps.shingleHashes).as("h")).distinct()
      .collect().map(_.getLong(0)).toSeq

    val done = new ConcurrentHashMap[Int, java.lang.Long]()
    val kept = new ConcurrentLinkedQueue[String]()
    val hits = new ConcurrentLinkedQueue[String]()
    var replaceS = 0.0; var replaceN = 0; var sinkS = 0.0

    val process: (DataFrame, Long) => Unit = (batch, id) => span("batch", id.toString) {
      val b = batch.persist()
      try {
        val (k, keptRows, hitRows) = span("gate") {
          val k = StreamOps.decontaminateByOverlap(b, evalHashes, minHits)
          val kr = k.select("doc_id", "b").collect().map(r => (r.getLong(0), r.getInt(1)))
          val hr = StreamOps.nearDupIngestGate(k.select("doc_id", "text"), standingBands(s, dir))
            .select("doc_id", "standing_doc").distinct()
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          (k, kr, hr)
        }
        val hitIds = hitRows.map(_._1).distinct.toSeq
        val admitted = k.filter(!col("doc_id").isin(hitIds: _*))
        val t0 = System.nanoTime()
        span("sink")(admitted.select("doc_id", "text", "b").write.mode("append").parquet(sink))
        val t1 = System.nanoTime()
        span("replace") {
          val cur = standingBands(s, dir)
          Caches.replace(s, dir, BandsKey)(
            cur.unionByName(Fingerprints.bandTableOf(s, admitted.select("doc_id", "text"))))
        }
        val t2 = System.nanoTime()
        sinkS += (t1 - t0) / 1e9; replaceS += (t2 - t1) / 1e9; replaceN += 1
        keptRows.foreach { case (d, bi) => kept.add(s"[$d,$bi]") }
        hitRows.foreach { case (d, sd) => hits.add(s"[$d,$sd]") }
        val now = System.nanoTime()
        keptRows.map(_._2).distinct.foreach(bi => done.put(bi, now))
      } catch {
        case e: Throwable => errors += s"batch $id: $e"
      } finally { b.unpersist(); () }
    }

    val query = s.readStream.schema("doc_id BIGINT, text STRING, b INT")
      .option("maxFilesPerTrigger", "1").json(landing.toString)
      .writeStream.option("checkpointLocation", work.resolve("checkpoint").toString)
      .foreachBatch(process).start()

    def land(i: Int): Unit = {
      val name = f"batch-$i%05d.json"
      // The file source takes files oldest first by modification time.
      Files.setLastModifiedTime(staged.resolve(name),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      Files.move(staged.resolve(name), landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    def await(n: Int, deadline: Long): Unit =
      while (done.size < n && System.nanoTime() < deadline && query.isActive) Thread.sleep(5)
    val timeout = plan("drain_timeout_s").toLong * 1000000000L

    // Untimed warm-up batches (due < 0) go through the same pipeline
    // first, so the timed batches meet a running, compiled stream.
    val (warm, timed) = plan.batches.partition(_._2 < 0)
    warm.foreach { case (i, _) => land(i) }
    await(warm.size, System.nanoTime() + timeout)

    // The open-loop generator: each batch file moves into the landing
    // directory at its due time, whatever the query is doing.
    val t0 = System.nanoTime() + 200L * 1000000L
    val due = timed.map { case (i, ms) => i -> (t0 + ms * 1000000L) }.toMap
    val moved = new ConcurrentHashMap[Int, java.lang.Long]()
    val gen = new Thread(() => timed.sortBy(_._2).foreach { case (i, _) =>
      val wait = due(i) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      land(i)
      moved.put(i, System.nanoTime())
    }, "ingest-generator")
    gen.start()
    await(plan.batches.size, due.values.max + timeout)
    val end = System.nanoTime()
    gen.join()
    query.stop()
    Option(query.exception.orNull).foreach(e => errors += s"stream: $e")

    out("wall_s") = Json.num((end - t0) / 1e9)
    plan.batches.foreach { case (i, _) =>
      val ok = done.containsKey(i)
      val timing = due.get(i) match {
        case Some(d) => Seq("kind" -> Json.str("batch"),
          "lat" -> (if (ok) Json.num((done.get(i) - d) / 1e9) else "null"),
          "lag" -> Option(moved.get(i)).map(m => Json.num((m - d) / 1e9)).getOrElse("null"))
        case None => Seq("kind" -> Json.str("warmup"), "lat" -> "null")
      }
      ops += Json.obj(Seq("name" -> Json.str(s"batch$i"), "ok" -> ok.toString) ++ timing ++
        (if (ok) Nil else Seq("err" -> Json.str(s"batch $i not processed before the deadline"))))
    }
    val sinkIds =
      try s.read.parquet(sink).select("doc_id").collect().map(_.getLong(0).toString).toSeq
      catch { case e: Throwable => errors += s"sink read: $e"; Nil }
    out("ingest") = Json.obj(Seq(
      "kept" -> Json.arr(kept.asScala), "hits" -> Json.arr(hits.asScala),
      "sink_ids" -> Json.arr(sinkIds), "eval_ids" -> Json.arr(evalIds.map(_.toString)),
      "replace_s" -> Json.num(replaceS), "replace_n" -> replaceN.toString,
      "sink_s" -> Json.num(sinkS)))
  }
}
