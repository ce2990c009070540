package graft

/** Volume-scaled AQE shuffle width that [[GraftSession]] sets for every
  * harness main.
  *
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` is the
  * pre-coalesce width of every exchange. It must scale with DATA, not
  * cores — but a flat high value is not free at small scale: AQE only
  * coalesces exchanges it fully plans, while persist/localCheckpoint
  * materializations and streaming micro-batch stages launch at the
  * initial width, so a flat 512 doubled the containment/streaming
  * families at sf0.1 (measured: q212 8.5 → 21 s, q213 9.7 → 18.5 s,
  * suite +20%). One initial partition per ~16 MB of on-disk parquet
  * (compressed bytes grow several-fold in flight), floored at the core
  * count, capped at 4096: sf0.1 sits at the floor (the fastest measured
  * configuration), sf10 grows past it, and a corpus big enough for a
  * shuffle to exceed executor memory gets the width that prevents it.
  */
object GraftWidth {
  val BytesPerInitialPartition: Long = 16L << 20

  def volumeScaled(sfDir: String, cpus: Int): Int = {
    val bytes =
      try {
        val root = java.nio.file.Paths.get(sfDir)
        if (!java.nio.file.Files.exists(root)) 0L
        else {
          val walk = java.nio.file.Files.walk(root)
          try walk
            .filter(p => java.nio.file.Files.isRegularFile(p))
            .mapToLong(p => java.nio.file.Files.size(p))
            .sum()
          finally walk.close()
        }
      } catch { case scala.util.control.NonFatal(_) => 0L }
    fromBytes(bytes, cpus)
  }

  /** The clamp itself, byte-count form — what the spec exercises directly
    * (a 64 GB corpus is not a reasonable test fixture). */
  private[graft] def fromBytes(bytes: Long, cpus: Int): Int =
    math.max(cpus.toLong, math.min(4096L, bytes / BytesPerInitialPartition)).toInt
}
