package graft

/** ONE definition of volume-sized shuffle partitioning — the
  * arithmetic a production job does with its cluster's task size,
  * shared by the library's eager stored-table builds
  * (`SparkEntryExt.withVocabSizedShuffle`) and the harness sessions'
  * AQE config ([[GraftSession]] sets
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` from
  * it).
  *
  * Why the harness needs it: `spark.sql.shuffle.partitions` stays at
  * the CPU count (right for row-keyed, doc_id-sized exchanges), but a
  * LAZY library plan with a corpus-sized key space — `dsirSelect`'s
  * doc×bucket cell aggregate (~1.3B groups at the 1000× decade), the
  * in-plan NB term counts on a vocab-adversarial corpus — reads the
  * conf at EXECUTION time, after any scoped override has been
  * restored, so the scoped-override fix only ever covered eager
  * builds. Volume-sizing the AQE INITIAL partition number gives every
  * lazy plan split-safety (the map outputs are written wide enough
  * that no final-aggregate task holds more than ~a task-sized slice
  * of the key space) while AQE's coalescer merges the small-decade
  * cost back down toward `advisoryPartitionSizeInBytes` — the
  * oversplit is paid only in shuffle-file count, never in task count,
  * so sf0.01/sf0.1 suites keep their plans.
  */
object VolumeConf {

  /** One shuffle partition per this many bytes of source parquet.
    * Text explodes 3–5× off parquet encoding, keys dominate the
    * aggregate maps, and the widest key spaces (dsirSelect's
    * doc×bucket cells: ~1.3B groups off 963 MB at the 1000× decade)
    * multiply rows per source byte again — 2 MB of parquet per
    * partition puts that worst case at the partition count the r18
    * smoke proved clean (~500 at 1000×), and OVER-splitting is nearly
    * free under AQE: the coalescer merges the small-decade surplus
    * back toward `advisoryPartitionSizeInBytes`, so the initial
    * number costs shuffle-file count, not task count. (r18 used 8 MB,
    * tuned for the narrower vocab-keyed stored builds; one constant
    * now serves both, sized by the widest consumer.)
    */
  val BytesPerShufflePartition: Long = 2L << 20

  /** Upper bound — past this, per-partition scheduling overhead beats
    * the marginal split-safety (and the harness runs single-JVM).
    */
  val MaxShufflePartitions = 2048

  def volumeSizedPartitions(bytes: Long, floor: Int): Int =
    math.max(floor,
      math.min(MaxShufflePartitions.toLong, bytes / BytesPerShufflePartition).toInt)

  /** Recursive byte size of `<sfDir>/documents.parquet` (file or
    * directory), 0 when absent — documents is the volume proxy for
    * the whole sfDir: it is the fact table every vocab/cell-keyed
    * aggregate reads, and the other tables scale with it. Plain
    * java.io (local paths only) because the harness reads it BEFORE
    * any SparkSession exists.
    */
  def docBytes(sfDir: String): Long = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
      else if (f.isFile) f.length()
      else 0L
    sizeOf(new java.io.File(s"$sfDir/documents.parquet"))
  }

  /** The AQE initial partition number for a harness session over
    * `sfDir`: volume-sized, floored at the session's parallelism.
    */
  def initialPartitions(sfDir: String, cpus: Int): Int = {
    val bytes = docBytes(sfDir)
    // A zero-byte probe (missing/mistyped path, non-local layout) must
    // not degrade the sizing SILENTLY: the session would come up at the
    // CPU floor and a big-decade run would hit exactly the under-split
    // aggregate OOM this sizing exists to prevent, with nothing in the
    // output pointing at the dead probe.
    if (bytes == 0L)
      System.err.println(
        s"[graft] WARNING: volume probe read 0 bytes at $sfDir/documents.parquet" +
          " — AQE initial partitions fall back to the CPU floor; at a big" +
          " decade this under-splits wide-key aggregates (check the path)")
    volumeSizedPartitions(bytes, cpus)
  }
}
