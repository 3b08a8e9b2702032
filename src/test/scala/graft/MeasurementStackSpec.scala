package graft

import org.scalatest.funsuite.AnyFunSuite

/** One measurement stack: `src/main` reads a fixed set of
  * `SPARK_GRAFT_*` settings and has a fixed set of entry points. A new
  * knob or a new timing main has to edit this guard on purpose.
  */
class MeasurementStackSpec extends AnyFunSuite {

  private lazy val sources: Seq[(java.nio.file.Path, String)] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).toArray
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala")).toSeq
    assert(files.length > 50, s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    files.map(f => f -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
  }

  test("src/main reads only the eight SPARK_GRAFT_* settings") {
    val allowed = Set("SF_DIR", "CPUS", "BENCH_RUNS", "BENCH_OUT", "BENCH_ONLY", "ROUND", "MEMO", "STREAM_BENCH")
    val offenders = sources.flatMap { case (f, text) =>
      "SPARK_GRAFT_([A-Z0-9_]+)".r.findAllMatchIn(text).map(_.group(1)).filterNot(allowed).map(k => s"$f: SPARK_GRAFT_$k")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only core/ materializes memo entries: no DatasetStore.persisted or Mat seam outside it") {
    // a per-dataset artifact is a memo; Memo decides its checkpoint and
    // its disk tier, and only core/ reads or sets the transparent seam
    val core = java.nio.file.Paths.get("src/main/scala/graft/core")
    val banned = Seq("DatasetStore.persisted", "Mat.isTransparent", "Mat.withTransparent")
    val offenders = sources.collect {
      case (f, text) if !f.startsWith(core) => banned.filter(text.contains).map(b => s"$f: $b")
    }.flatten
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("def main( only in Bench, Verify, EntrySmoke, PlanAudit and StreamDemo") {
    val allowed = Set("Bench.scala", "Verify.scala", "EntrySmoke.scala", "PlanAudit.scala", "StreamDemo.scala")
    val offenders = sources.collect {
      case (f, text) if text.contains("def main(") && !allowed(f.getFileName.toString) => f.toString
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
