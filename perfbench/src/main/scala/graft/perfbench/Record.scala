package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import graft.SparkEntry

/** Writes the expected fingerprints the benchmark checks every result
  * against: one line per query of the analytics and curation workloads
  * and per core pair, `module<TAB>name<TAB>rows<TAB>hash sum`. Given the output
  * directory of `graft.Verify` for the same data (whose results
  * `tools/check.py` compares with DuckDB), it also fingerprints those
  * files and reports every query whose result differs.
  */
object Record {
  def run(data: String, cpus: String, conf: Path, out: Path, verify: Option[String]): Unit = {
    val work = out.toAbsolutePath.getParent.resolve("record-work")
    val s = Main.session(Main.settings(conf, cpus), work.resolve("spark-local").toString)
    val mods = Main.modules(Main.AnalyticsModules ++ Main.CurationModules)
    mods.foreach(_.prewarm(s, data))
    val names = mods.flatMap(m => m.queries.keys.map(_ -> Main.moduleName(m))).sortBy(_._1)
    val lines = Seq.newBuilder[String]
    var mismatches = 0
    names.foreach { case (name, module) =>
      val fp = try Right(Main.materialize(SparkEntry.queries(name)(s, data)))
        catch { case e: Throwable => Left(e.toString) }
      fp match {
        case Right((n, sum)) =>
          lines += s"$module\t$name\t$n\t$sum"
          verify.foreach { v =>
            val got = Main.fingerprint(s.read.parquet(s"$v/$name"))
            if (got != ((n, sum))) {
              mismatches += 1
              println(s"MISMATCH $name bench=($n,$sum) verify=$got")
            }
          }
        case Left(e) => mismatches += 1; println(s"FAILED $name $e")
      }
    }
    Core.names.foreach { name =>
      val (b, h) = Core.pair(name, s, data)
      val hand = Main.materialize(h())
      val baloo = Main.materialize(b())
      if (hand != baloo) { mismatches += 1; println(s"MISMATCH core.$name baloo=$baloo hand=$hand") }
      lines += s"core\tcore.$name\t${hand._1}\t${hand._2}"
    }
    Files.write(out, (lines.result().mkString("\n") + "\n").getBytes(UTF_8))
    println(s"RECORDED ${names.size} queries + ${Core.names.size} core pairs; $mismatches mismatches")
    s.stop()
    if (mismatches > 0) sys.exit(1)
  }
}
