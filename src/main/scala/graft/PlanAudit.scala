package graft

import org.apache.spark.sql.SparkSession

/** Developer tool: dump the formatted physical plan of every registered
  * query so scan pruning, filter pushdown, broadcast choices, and
  * whole-stage-codegen coverage can be audited (the 100 TB design
  * review). Each plan is printed through [[normalize]], so the output of
  * two runs or two commits can be diffed directly.
  * Usage: runMain graft.PlanAudit [sfDir] [queryName...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val which = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (which.isEmpty || which(name)) {
        println(s"\n===================== $name =====================")
        try println(normalize(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)))
        catch { case e: Throwable => println(s"plan failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }

  /** A formatted plan with its run-to-run noise replaced by fixed
    * tokens: expression ids, lambda-variable ids, JVM lambda class names,
    * RDD and plan ids, and the warehouse path.
    *
    * A distinct-aggregate `Expand` (the one with a `gid` column) takes
    * its group order, the order of its distinct columns and the gid
    * numbers from expression hashes, so they change with the ids a run
    * happens to allocate. Its groups are put in a canonical order
    * (distinct columns by name, gids renumbered to match, projections
    * sorted by gid), and every later list and gid filter follows.
    */
  def normalize(plan: String): String = {
    val lines = plan
      .replaceAll("(lambda \\w+?)_\\d+#", "$1_n#")
      .replaceAll("\\$\\$Lambda[$\\d]*/0x[0-9a-f]+@[0-9a-f]+", "\\$\\$Lambda@n")
      .replaceAll("#\\d+", "#n")
      .replaceAll("RDD\\[\\d+\\]", "RDD[n]")
      .replaceAll("plan_id=\\d+", "plan_id=n")
      .replaceAll("file:\\S*?/spark-warehouse/", "file:<warehouse>/")
      .split("\n", -1)
    var op = ""
    val expands = lines.indices.flatMap { i =>
      if (lines(i).matches("\\(\\d+\\) .*")) op = lines(i)
      if (op.contains(") Expand") && lines(i).startsWith("Arguments: [["))
        canonicalExpand(lines(i).stripPrefix("Arguments: ")).map(i -> _)
      else None
    }
    expands match {
      case Seq((at, (args, gids, cols))) =>
        lines.indices.map { i =>
          if (i == at) "Arguments: " + args
          else "gid#n = (\\d+)".r.replaceAllIn(sortRuns(lines(i), cols),
            m => "gid#n = " + gids.getOrElse(m.group(1), m.group(1)))
        }.mkString("\n")
      case _ => lines.mkString("\n")
    }
  }

  /** A distinct-aggregate Expand's arguments in canonical order, the
    * old-to-new gid map and the distinct columns; None without a gid.
    */
  private def canonicalExpand(args: String): Option[(String, Map[String, String], Set[String])] = {
    val Seq(projList, outList) = split(args)
    val projs = split(inner(projList)).map(p => split(inner(p)))
    val out = split(inner(outList))
    val g = out.indexWhere(_.startsWith("gid#"))
    if (g < 0 || projs.exists(_.size != out.size)) return None
    val cols = (0 until g).filter(j => projs.exists(_(j) == "null"))
    val sortedCols = cols.sortBy(out)
    val perm = out.indices.map(j => if (cols.contains(j)) sortedCols(cols.indexOf(j)) else j)
    val byGroup = projs.sortBy(p => cols.filter(p(_) != "null").map(out).sorted.mkString(","))
    val gids = byGroup.map(_(g)).zip(projs.map(_(g)).sortBy(_.toInt)).toMap
    val rows = byGroup.map(p => perm.map(j => if (j == g) gids(p(g)) else p(j)))
    Some((rows.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]") + ", " +
      perm.map(out).mkString("[", ", ", "]"), gids, cols.map(out).toSet))
  }

  /** Sorts each run of adjacent elements named in `cols` (by name),
    * inside every bracket group of `s`; other text is kept verbatim.
    */
  private def sortRuns(s: String, cols: Set[String]): String = {
    def name(e: String) = e.split(" AS ").last
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val close = if ("[(".contains(s(i))) closing(s, i) else -1
      if (close < 0) { b += s(i); i += 1 }
      else {
        val body = sortRuns(s.substring(i + 1, close), cols)
        val es = split(body)
        val runs = es.foldLeft(Vector.empty[Vector[String]]) { (acc, e) =>
          if (cols(name(e)) && acc.nonEmpty && cols(name(acc.last.head))) acc.init :+ (acc.last :+ e)
          else acc :+ Vector(e)
        }
        val sorted = runs.flatMap(_.sortBy(name))
        b += s(i) ++= (if (sorted == es) body else sorted.mkString(", ")) += s(close)
        i = close + 1
      }
    }
    b.toString
  }

  private def closing(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      if ("[(".contains(s(i))) depth += 1
      else if ("])".contains(s(i))) { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    -1
  }

  private def inner(s: String): String = s.trim.substring(1, s.trim.length - 1)

  /** Top-level comma-separated elements of `s`, trimmed. */
  private def split(s: String): Vector[String] = {
    val es = Vector.newBuilder[String]
    var depth = 0
    var from = 0
    s.indices.foreach { i =>
      if ("[(".contains(s(i))) depth += 1
      else if ("])".contains(s(i))) depth -= 1
      else if (s(i) == ',' && depth == 0) { es += s.substring(from, i).trim; from = i + 1 }
    }
    (es += s.substring(from).trim).result()
  }
}
