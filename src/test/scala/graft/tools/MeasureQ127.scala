package graft.tools

/** Measurement harness behind BASELINE.md's q127 candidate-cut table: runs
  * [[graft.dedup.Dedup.prefixFilterJaccard]] with and without a prefix
  * df-floor on a real corpus dir, recording candidate count, verified-pair
  * count, the floor's recall vs the lossless run (exact pair-set diff), and
  * wall time.
  *
  *   sbt "Test/runMain graft.tools.MeasureQ127 /root/testdata/sf0.1 50"
  */
object MeasureQ127 {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val floors = args.drop(1).map(_.toLong)
    val spark = graft.GraftSession.local(graft.GraftSession.cpus, Some(sfDir))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def run(floor: Option[Long]): (Long, Long, org.apache.spark.sql.DataFrame) = {
      val sink = s"/tmp/q127_cand_${floor.getOrElse(0L)}"
      val t0 = System.nanoTime()
      val pairs = graft.dedup.Dedup.prefixFilterJaccard(docs, "doc_id", "text",
        prefixDfFloor = floor, candidateSink = Some(sink))
      val nPairs = pairs.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val nCand = spark.read.parquet(sink).count()
      println(f"[measure] floor=${floor.getOrElse(-1L)}%d candidates=$nCand%d " +
        f"verified_pairs=$nPairs%d wall=$secs%.1f s")
      (nCand, nPairs, pairs)
    }

    val (c0, p0, base) = run(None)
    floors.foreach { f =>
      val (c1, p1, floored) = run(Some(f))
      val lost = base.join(floored, Seq("id_a", "id_b"), "left_anti").count()
      println(f"[measure] floor=$f%d cut=${c0.toDouble / c1}%.1fx " +
        f"recall=${p0 - lost}%d/$p0%d lost_pairs=$lost%d extra_pairs=${p1 - (p0 - lost)}%d")
    }
    spark.stop()
  }
}
