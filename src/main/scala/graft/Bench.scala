package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
object Bench {

  /** Host-throttle probe (BASELINE.md's adjudication protocol): a fixed
    * 20M-iteration CPython sum loop measures raw single-core speed,
    * independent of JVM state — ~2.0–2.1 s on a clean host, 3.5–5.4 s
    * during the documented episodic-throttle windows. Run before AND after
    * the suite and emitted into the artifact, so a weather-inflated run is
    * machine-identifiable from the JSON alone (round-4's recorded 946 s —
    * ~90 % throttle — carried no such marker and failed the gate at face
    * value). -1.0 = python3 unavailable or probe failed; the suite numbers
    * then stand unadjudicated. */
  private def cpythonProbe(): Double = {
    try {
      val t0 = System.nanoTime()
      val p = new ProcessBuilder("python3", "-c",
        "s=0\nfor i in range(20000000): s+=i").inheritIO().start()
      if (!p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly(); -1.0
      } else if (p.exitValue() != 0) -1.0
      else (System.nanoTime() - t0) / 1e9
    } catch { case _: Exception => -1.0 }
  }

  /** Serving-path latency (VERDICT r5 item 5): the online `getRecord` hot
    * path is correctness-gated (0 Spark jobs on the cache-hit path,
    * FeatureStoreSpec) but was never MEASURED. Two stores over the same
    * ingested latest-per-key snapshot: one serving from the driver cache
    * (the production hot path; reference floor is a managed-KV ms hit),
    * one capped to force the bucket-pruned Spark fallback (the over-cap
    * path — a job per lookup, so it gets 100 probes, not 1000). Returns a
    * JSON object for the bench artifact. */
  private def servingBench(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions.col
    import graft.core.{FType, FeatureDef, FeatureGroup, FeatureStore}
    def pct(xs: Array[Long], p: Double): Long =
      xs.sorted.apply(math.min(xs.length - 1, (p * xs.length).toInt))
    try {
      val latest = graft.operators.LatestPerKey.viaMaxBy(
          spark.read.parquet(s"$sfDir/events.parquet"),
          Seq("user_id"), "ts", Seq("event_id"))
        .select(col("user_id"), col("ts").as("event_time"),
          col("value").as("latest_value"))
      val dir = Files.createTempDirectory("graft_serving_").toString
      val group = FeatureGroup("ServingBench", "user_id", "event_time", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_time", FType.FTimestamp),
        FeatureDef("latest_value", FType.Fractional)))
      val fs = new FeatureStore(spark, dir)
      fs.createGroup(group)
      fs.ingest("ServingBench", latest)
      val keys = latest.select("user_id").orderBy("user_id").limit(1000)
        .collect().map(_.getLong(0))
      def measure(store: FeatureStore, ks: Array[Long]): Array[Long] = {
        store.getRecord("ServingBench", ks.head): Unit // warm (cache build / plan)
        ks.map { k =>
          val t0 = System.nanoTime()
          val r = store.getRecord("ServingBench", k)
          require(r.isDefined, s"serving bench key $k missing")
          System.nanoTime() - t0
        }
      }
      val hot = measure(fs, keys)
      // cap 10 < |keys| forces the cached over-cap verdict + bucket-pruned read
      val cold = measure(new FeatureStore(spark, dir, maxServingCacheRows = 10),
        keys.take(100))
      // concurrent load (VERDICT r6 item 8): 8 threads hammering the SAME
      // store's cache-hit path — sequential numbers hide cache contention;
      // this reports tail latency AND aggregate throughput under load
      val (nThreads, perThread) = (8, 1000)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      val t0 = System.nanoTime()
      val futs = (0 until nThreads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Array[Long]] {
          def call(): Array[Long] = {
            val rng = new scala.util.Random(t)
            Array.fill(perThread) {
              val k = keys(rng.nextInt(keys.length))
              val s = System.nanoTime()
              require(fs.getRecord("ServingBench", k).isDefined)
              System.nanoTime() - s
            }
          }
        })
      }
      val conc = futs.flatMap(_.get()).toArray
      val wallNs = math.max(1L, System.nanoTime() - t0)
      pool.shutdown()
      val thrpt = conc.length.toLong * 1000000000L / wallNs
      s""""serving":{"cache_hit":{"n":${hot.length},"p50_us":${pct(hot, 0.5) / 1000},"p99_us":${pct(hot, 0.99) / 1000}},""" +
        s""""bucket_pruned":{"n":${cold.length},"p50_us":${pct(cold, 0.5) / 1000},"p99_us":${pct(cold, 0.99) / 1000},"p50_ms":${pct(cold, 0.5) / 1000000},"p99_ms":${pct(cold, 0.99) / 1000000}},""" +
        s""""concurrent":{"threads":$nThreads,"n":${conc.length},"p50_us":${pct(conc, 0.5) / 1000},"p99_us":${pct(conc, 0.99) / 1000},"lookups_per_s":$thrpt}}"""
    } catch { case e: Throwable =>
      System.err.println(s"[bench] serving bench failed: ${e.getMessage}")
      s""""serving":{"error":"${e.getClass.getSimpleName}"}"""
    }
  }

  /** PER-QUERY REGRESSION GATE (VERDICT r11 item 7): compare two bench
    * artifacts and print every query whose current time exceeds
    * `flag` × its baseline time, largest ratio first — plus queries only
    * in one artifact (a vanished query is a silent failure, a new one has
    * no baseline). Replaces the per-round manual BASELINE.md archaeology:
    * `runMain graft.Bench --against BENCH_r11.json [--flag 1.3]` runs the
    * suite then gates its fresh artifact; add `--compare cur.json` to gate
    * two existing artifacts without running anything. Informational only
    * (minima protocol + host weather mean a flag is where adjudication
    * STARTS, not a CI failure): exit code stays 0. */
  private[graft] def compareArtifacts(curFile: String, baseFile: String,
      flag: Double): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def load(f: String): (Map[String, Double], String) = {
      val raw = JsonMethods.parse(Files.readString(Paths.get(f)))
      // accept both the bench's own artifact ({"queries":{...}}) and the
      // driver's wrapper ({"parsed": <artifact>, "tail": "<truncated>"})
      val j = (raw \ "queries") match {
        case JNothing | JNull => raw \ "parsed"
        case _ => raw
      }
      val qs = (j \ "queries") match {
        case JObject(fields) => fields.collect {
          case (name, JDouble(v)) => name -> v
          case (name, JInt(v)) => name -> v.toDouble
          case (name, JDecimal(v)) => name -> v.toDouble
        }.toMap
        case _ => sys.error(s"$f carries no per-query map (a driver wrapper " +
          "with a truncated tail? gate against the in-tree bench_out.json)")
      }
      val sha = (j \ "sha") match { case JString(s) => s; case _ => "unknown" }
      (qs, sha)
    }
    val (cur, curSha) = load(curFile)
    val (base, baseSha) = load(baseFile)
    val shared = cur.keySet intersect base.keySet
    val flagged = shared.toSeq
      .map(q => (q, base(q), cur(q), cur(q) / math.max(base(q), 1e-9)))
      .filter(_._4 > flag)
      .sortBy(-_._4)
    flagged.foreach { case (q, b, c, r) =>
      println(f"[compare] REGRESSION $q%-32s base=$b%8.2f s  cur=$c%8.2f s  ${r}%.2fx")
    }
    (base.keySet -- cur.keySet).toSeq.sorted.foreach(q =>
      println(s"[compare] MISSING    $q (in baseline, not in current run)"))
    (cur.keySet -- base.keySet).toSeq.sorted.foreach(q =>
      println(s"[compare] NEW        $q (no baseline)"))
    val curTotal = shared.toSeq.map(cur).sum
    val baseTotal = shared.toSeq.map(base).sum
    println(f"[compare] ${flagged.size} queries over ${flag}%.2fx vs $baseFile " +
      f"(base sha $baseSha, cur sha $curSha); shared-suite total " +
      f"$baseTotal%.1f -> $curTotal%.1f s (${curTotal / math.max(baseTotal, 1e-9)}%.2fx)")
  }

  def main(args: Array[String]): Unit = {
    def argOf(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val against = argOf("--against")
    val flag = argOf("--flag").map(_.toDouble).getOrElse(1.3)
    argOf("--compare") match {
      case Some(cur) => // offline gate of two existing artifacts
        compareArtifacts(cur, against.getOrElse(
          sys.error("--compare needs --against <baseline.json>")), flag)
        return
      case None => ()
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = GraftSession.local(GraftSession.cpus, Some(sfDir))

    // untimed warmup: pay JVM JIT + codegen + parquet footer reads once,
    // so per-query numbers measure the query, not startup
    try SparkEntry.queries("q07_agg_pricing")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    GraftSession.reset(spark)

    val probeBefore = cpythonProbe()
    System.err.println(f"[bench] cpython probe (before): $probeBefore%.2f s (~2.0-2.1 = clean host)")

    // MINIMA PROTOCOL (VERDICT r7 item 2): this host has documented
    // episodic throttle windows (the same command measured 982 s and 25 s
    // forty minutes apart — BASELINE.md's adjudication section), so any
    // SINGLE pass systematically misrepresents the engine whenever the
    // episode overlaps the run. The suite therefore runs `passes` full
    // passes (default 2) and the artifact reports each query's MINIMUM —
    // the only estimator whose error is one-sided under throttle. The
    // cpython probes still bracket the whole window, so a run where even
    // the minima are weather-inflated remains machine-identifiable.
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt)
    // label the artifact with the source SHA it measured (VERDICT r10 nit:
    // two same-protocol runs of different trees were ambiguous anchors for
    // the 2x gate). Driver-side file reads only — works without a git exe.
    val gitSha: String = try {
      val head = Files.readString(Paths.get(".git/HEAD")).trim
      if (head.startsWith("ref: ")) {
        val ref = Paths.get(".git").resolve(head.stripPrefix("ref: "))
        if (Files.exists(ref)) Files.readString(ref).trim.take(12) else "unknown"
      } else head.take(12)
    } catch { case scala.util.control.NonFatal(_) => "unknown" }
    var failed = Seq.empty[String]
    def render(results: Seq[(String, Double)], passesDone: Int,
        probeAfter: Double = -1.0, serving: Option[String] = None): String = {
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = results.map(_._2).sum
      // failed queries stay listed with their elapsed-to-failure time, but
      // the artifact names them — a run with failures must not read as a
      // faster suite
      val failedJson = failed.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
      val servingJson = serving.map("," + _).getOrElse("")
      // probe_before/probe_after: CPython host-speed probe (see cpythonProbe)
      // — clean ≈ 2.0-2.1; a pair well above that marks the whole run as
      // throttle-inflated, a clean pair certifies the totals
      s"""{"metric":"total","value":$total,"unit":"sec","protocol":"per-query min over $passesDone/$passes passes","sha":"$gitSha","queries":$qs,"failed":$failedJson,"sf":"$sfDir","probe_before":$probeBefore,"probe_after":$probeAfter$servingJson,"artifact":"$outFile"}"""
    }

    // noop sink, not count(): count() lets Catalyst prune unused projections,
    // so map-only queries (text stats, lang-id, decode) would measure an
    // empty scan; noop evaluates every output column and writes nothing
    // debugging lever: SPARK_GRAFT_BENCH_ONLY="q13,q15" restricts the suite
    // (comma-separated names) — used to bisect in-suite interference
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // insertion-ordered name → (best successful sec, any success yet)
    val best = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Boolean)]
    def currentResults: Seq[(String, Double)] = best.toSeq.map { case (k, (v, _)) => k -> v }
    var passesDone = 0
    (1 to passes).foreach { pass =>
      suite.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        var ok = true
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          ok = false
          failed :+= name
          System.err.println(s"[bench] $name FAILED (pass $pass): ${e.getMessage}")
        }
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $name ${sec}%.1f s (pass $pass)")
        best.get(name) match {
          // a failed pass's elapsed-to-failure only stands while no pass
          // has succeeded; a successful time is never replaced by a failure
          case Some((prev, hadOk)) =>
            if (ok && (!hadOk || sec < prev)) best(name) = (sec, true)
            else if (!ok && !hadOk && sec > prev) best(name) = (sec, false)
          case None => best(name) = (sec, ok)
        }
        // rewritten per query so a killed run still leaves a parseable artifact
        Files.writeString(Paths.get(outFile),
          render(currentResults, math.max(passesDone, 1)))
        // per-query isolation, OUTSIDE the timed window (round-2 recorded
        // artifact: leaked checkpoint blocks degraded a later query ~9× vs
        // its fresh-JVM time); the library releases its own staging blocks,
        // this is the bench-side backstop
        GraftSession.reset(spark)
      }
      passesDone = pass
    }
    val results = currentResults
    // serving-path latency, measured OUTSIDE the suite's timed window
    val serving = servingBench(spark, sfDir)
    System.err.println(s"[bench] $serving")
    GraftSession.reset(spark)
    val probeAfter = cpythonProbe()
    System.err.println(f"[bench] cpython probe (after): $probeAfter%.2f s")
    val finalJson = render(results, passesDone, probeAfter, Some(serving))
    Files.writeString(Paths.get(outFile), finalJson)
    println(finalJson)
    against.foreach(base => compareArtifacts(outFile, base, flag))
    spark.stop()
  }
}
