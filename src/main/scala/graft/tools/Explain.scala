package graft.tools

/** Dev tool: print the formatted physical plan and wall time of one catalog
  * query. `sbt "runMain graft.tools.Explain q46_fuzzy_edit_pairs [sfDir] [n]
  * [pre1,pre2,…]"` (n = timed repetitions after a discarded warmup, default
  * 1; the optional 4th arg runs those queries first UNtimed and SKIPS the
  * same-query warmup — for reproducing in-sequence bench costs). */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val pre = if (args.length > 3) args(3).split(",").toSeq else Seq.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)
    val q = graft.QueryCatalog.all.find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name"))
    q.run(spark, sfDir).explain("formatted")
    graft.core.Timing.warmThenTime[Long](reps, after = (rep, t, n) =>
      if (rep != "warm") println(f"[explain] run $rep: $t%.2f s ($n rows)")) {
      // the pre list stands in for the same-query warmup
      case "warm" if pre.nonEmpty =>
        pre.foreach { p =>
          graft.QueryCatalog.all.find(_.name == p)
            .foreach { pq => pq.run(spark, sfDir).count() }
          graft.core.CacheScope.drain()
        }
        0L
      // the warmup pays codegen + scan metadata; the timed runs follow
      case _ => q.run(spark, sfDir).count()
    }
    spark.stop()
  }
}
