package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Developer probe on the bench session profile ([[Bench.session]]), so
  * every plan it prints is a plan the bench runs.
  *
  * Usage: runMain graft.Probe <subcommand>
  *   plan <sfDir> <q1,q2,..> [outDir:suffix]   static physical plan
  *   final <sfDir> <q1,q2,..> [outDir:suffix]  runs each query, prints its
  *                                             final adaptive plan
  *   leg <q1,q2,..>                            ScaleStress's scale100 cost
  *                                             legs (fixtures under
  *                                             target/scale10{,0}, written
  *                                             by ScaleStress)
  *   artifacts <sfDir>                         build time of each dedup
  *                                             artifact, in chain order
  *
  * An empty query list (`""`) means every registered query.
  * With `outDir:suffix`, each plan is also written to
  * `<outDir>/<query>_<suffix>.txt` (e.g. `plans/r15:before`).
  */
object Probe {
  private val Usage = "usage: Probe plan|final <sfDir> <q1,q2,..> [outDir:suffix]" +
    " | leg <q1,q2,..> | artifacts <sfDir>"

  /** The registered queries named, in order. An unknown name fails the
    * whole call before any query runs, and the error names it.
    */
  def resolve(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    names.map(n => n -> SparkEntry.queries(n))
  }

  /** A comma-separated query list; empty means every registered query. */
  def queryList(list: String): Seq[String] =
    if (list.isEmpty) SparkEntry.queries.keys.toSeq.sorted else list.split(",").toSeq

  /** `<outDir>:<suffix>`, split on the last ':', as (outDir, "_suffix"). */
  def outSpec(spec: String): (String, String) = {
    val i = spec.lastIndexOf(':')
    require(i > 0, s"outSpec must be '<outDir>:<suffix>', got '$spec'")
    (spec.substring(0, i), "_" + spec.substring(i + 1))
  }

  /** (query, static physical plan) — `isFinalPlan=false` under AQE. */
  def plan(s: SparkSession, sfDir: String, names: Seq[String]): Iterator[(String, String)] =
    plans(s, sfDir, names)(_ => ())

  /** (query, final adaptive plan): runtime join swaps, AQEShuffleReads
    * and reused exchanges included. Executes the frame's OWN
    * QueryExecution — `count()` or a noop write replans into a fresh one
    * whose plan finalizes out of sight.
    */
  def finalPlan(s: SparkSession, sfDir: String, names: Seq[String]): Iterator[(String, String)] =
    plans(s, sfDir, names)(_.queryExecution.toRdd.count())

  private def plans(s: SparkSession, sfDir: String, names: Seq[String])(
      run: DataFrame => Unit): Iterator[(String, String)] =
    resolve(names).iterator.map { case (n, fn) =>
      val df = fn(s, sfDir)
      run(df)
      n -> df.queryExecution.executedPlan.toString.trim
    }

  /** One `LEG` line per query: [[ScaleStress.timedLeg]] at 10× and 100×. */
  def leg(s: SparkSession, names: Seq[String]): Iterator[String] =
    resolve(names).iterator.map { case (q, _) =>
      val t10 = ScaleStress.timedLeg(s, "target/scale10", q, 32)
      val t100 = ScaleStress.timedLeg(s, "target/scale100", q, 128)
      f"LEG $q t10=$t10%.1f s t100=$t100%.1f s ratio=${t100 / t10}%.1f"
    }

  /** One `PROF` line per dedup artifact, timed in chain order; each
    * stage builds on the memoized stage before it (the chain Bench
    * reports in aggregate as `prep`).
    */
  def artifacts(s: SparkSession, sfDir: String): Iterator[String] = {
    import graft.queries.{Fingerprints => F}
    Iterator[(String, () => DataFrame)](
      "scan_only" -> (() => Tables.documents(s, sfDir)),
      "shingle_raw" -> (() => F.shingleIndex(s, sfDir)),
      "postings" -> (() => F.postings(s, sfDir)),
      "minhash_cands" -> (() => F.candidatePairs(s, sfDir)),
      "confirmed_pairs" -> (() => F.confirmedPairs(s, sfDir))
    ).map { case (name, df) =>
      val t0 = System.nanoTime()
      val n = df().count()
      f"PROF $name%-18s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)"
    }
  }

  private def emit(sections: Iterator[(String, String)], out: Option[String]): Unit = {
    val dest = out.map(outSpec)
    sections.foreach { case (n, text) =>
      println(s"## $n\n\n```\n$text\n```\n")
      dest.foreach { case (dir, suffix) =>
        val p = Paths.get(dir, s"$n$suffix.txt")
        Files.createDirectories(p.getParent)
        Files.write(p, text.getBytes("UTF-8"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "plan" :: sf :: q :: out => s => emit(plan(s, sf, queryList(q)), out.headOption)
      case "final" :: sf :: q :: out => s => emit(finalPlan(s, sf, queryList(q)), out.headOption)
      case "leg" :: q :: Nil => s => leg(s, queryList(q)).foreach(println)
      case "artifacts" :: sf :: Nil => s => artifacts(s, sf).foreach(println)
      case _ => throw new IllegalArgumentException(Usage)
    }
    val spark = Bench.session()
    try run(spark) finally spark.stop()
  }
}
