package bench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Values a workload must reproduce exactly on every run of one build.
  * The first correct run records them in the build's guard directory
  * (named after the hash of the sources it was built from); later runs
  * compare, so a measurement window that shifted shows as a failed run
  * instead of as a quietly different number.
  */
object Guard {
  private def dir(o: Opts) = o.guard

  /** Returns a failure message when any `strict` key differs from the
    * recorded value; records `values` when there is no record yet.
    */
  def check(o: Opts, workload: String, values: Map[String, String], strict: Set[String]): Option[String] = {
    val f = new File(dir(o), s"$workload-s${o.seconds}.txt")
    if (!f.exists()) {
      dir(o).mkdirs()
      val tmp = new File(dir(o), s".$workload-${ProcessHandle.current().pid()}.tmp")
      Files.write(tmp.toPath, values.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      tmp.renameTo(f)
      None
    } else {
      val rec = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).split('\n')
        .filter(_.contains('=')).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
      val diffs = strict.toSeq.sorted.filter(k => rec.get(k) != values.get(k))
        .map(k => s"$k: recorded ${rec.getOrElse(k, "-")}, now ${values.getOrElse(k, "-")}")
      if (diffs.isEmpty) None
      else {
        val msg = s"DETERMINISM GUARD FAILED for $workload (record ${f.getPath}): " + diffs.mkString("; ")
        System.err.println(msg)
        Some(msg)
      }
    }
  }

  def traceFile(o: Opts): java.nio.file.Path =
    new File(o.root, s".bench_work/traces/${o.workload}-seed${o.seed}-${System.currentTimeMillis()}.json").toPath
}
