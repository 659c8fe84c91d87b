package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The compaction planner must keep every file once, leave oversize files
  * alone, and bound each bin's bytes. */
class CompactionSpec extends SparkSpec {

  test("planBins: conservation, oversize singletons, bounded bin waste") {
    val target = 1000L
    // deterministic mixed fixture: sizes cycle through small and oversize
    val files = spark.range(200).select(
      (col("id") % 7).cast("string").as("part_key"),
      col("id").as("file_id"),
      (col("id") * 137 % 1700 + 1).as("bytes"))
    val plan = Compaction.planBins(files, target).collect()
    // every input file appears exactly once, bytes unchanged
    assert(plan.length == 200)
    assert(plan.map(_.getLong(1)).sorted.toSeq == (0L until 200L))
    assert(plan.map(_.getLong(2)).sum ==
      files.agg(sum("bytes")).head.getLong(0))
    // oversize files (bytes >= target) are singleton negative bins
    val byBin = plan.groupBy(r => (r.getString(0), r.getLong(3)))
    byBin.foreach { case ((_, bin), rows) =>
      if (bin < 0) {
        assert(rows.length == 1 && rows.head.getLong(2) >= target)
      } else {
        // packed bins hold only small files and waste at most one file:
        // next-fit-by-offset keeps every bin under 2x target
        assert(rows.forall(_.getLong(2) < target))
        assert(rows.map(_.getLong(2)).sum < 2 * target,
          s"bin $bin exceeds the 2x bound")
      }
    }
    // packed bins are contiguous in file order within a partition
    plan.filter(_.getLong(3) >= 0).groupBy(_.getString(0)).foreach {
      case (_, rows) =>
        val ordered = rows.sortBy(_.getLong(1)).map(_.getLong(3))
        assert(ordered.sameElements(ordered.sorted),
          "bin ids must be nondecreasing in file order")
    }
  }
}
