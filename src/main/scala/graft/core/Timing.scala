package graft.core

/** The one wall-clock measurement loop. Every number the mains publish
  * (Bench, the ScaleAudit/IngestProbe/Explain tools, the StressMain,
  * ScaleGen and CurationJob stage lines) is timed here, so warmup, cache
  * release and the timed region mean the same thing everywhere.
  *
  * The loop's methodology is Bench's: one discarded warmup run pays JIT,
  * codegen and scan-metadata costs, then every timed run starts cold —
  * [[CacheScope.drain]] runs after each run, OUTSIDE the timed region
  * (cache release is session hygiene, not query compute, and a blocking
  * unpersist of a large cached set would inflate exactly the large-tier
  * times scale ratios divide by). */
object Timing {
  /** Run `op` once: (wall seconds, result). */
  def seconds[A](op: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = op
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** One discarded warmup run of `op("warm")`, then `n` timed runs of
    * `op("1")` … `op(n.toString)` — the label lets an op derive unique
    * per-run names (tags, tables). [[CacheScope.drain]] follows every run,
    * outside the timed region, also when the op throws (the exception
    * propagates). `after(label, seconds, result)` runs after each drain,
    * warmup included, also outside the timed region.
    * Returns the `n` times sorted ascending and the last result. */
  def warmThenTime[A](n: Int,
      after: (String, Double, A) => Unit = (_: String, _: Double, _: A) => ())(
      op: String => A): (IndexedSeq[Double], A) = {
    def run(label: String): (Double, A) = {
      val tr = try seconds(op(label)) finally CacheScope.drain()
      after(label, tr._1, tr._2)
      tr
    }
    var last = run("warm")._2
    val times = (1 to n).map { i =>
      val (t, r) = run(i.toString)
      last = r
      t
    }
    (times.sorted, last)
  }
}
