package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType, TimestampType}

import graft.SparkSpec

/** The two places an incremental online commit runs its one per-bucket
  * merge — the driver, for a commit of one writer task, and the Spark
  * write tasks otherwise — write the same versions, and both heal a torn
  * base version from history. */
class OnlineCommitPathSpec extends SparkSpec {

  private val group = FeatureGroup("ev", "k", "ts", Seq(
    FeatureDef("k", FType.FString), FeatureDef("ts", FType.FTimestamp),
    FeatureDef("v", FType.Fractional), FeatureDef("s", FType.FString)))
  private val schema = StructType(Seq(StructField("k", StringType),
    StructField("ts", TimestampType), StructField("v", DoubleType), StructField("s", StringType)))

  /** A row of the group: key, event time (None = null), value, note. */
  private type Rec = (String, Option[Int], Double, String)
  private def at(minute: Int) = new java.sql.Timestamp(1704103200000L + minute * 60000L)
  private def frame(rs: Seq[Rec]): DataFrame = spark.createDataFrame(
    rs.map { case (k, t, v, n) => Row(k, t.map(at).orNull, v, n) }.asJava, schema)

  /** A target of 8 keys per bucket keeps a few hundred keys at 64 buckets,
    * and sends every commit touching several buckets to the Spark side. */
  private val SparkTarget = 8L

  private def versionDir(root: String, v: Long): Path = Paths.get(root, "ev", "online", s"v$v")
  private def latest(root: String): Long =
    new String(Files.readAllBytes(Paths.get(root, "ev", "online", "LATEST"))).trim.toLong
  private def bucketsOf(root: String): Long = new String(Files.readAllBytes(
    versionDir(root, latest(root)).resolve("_meta"))).linesIterator
    .find(_.startsWith("buckets=")).get.drop(8).toLong

  /** History's latest row per key, rendered as lookups answer. */
  private def fromHistory(fs: FeatureStore): Map[String, Map[String, String]] = {
    val g = fs.describeGroup("ev")
    fs.offline("ev").collect().groupBy(_.getAs[String]("k")).map { case (k, rs) =>
      k -> FeatureStore.renderWireRow(g, rs.map(r => Row.fromSeq(g.featureNames.map(r.getAs[Any]) :+
        r.getAs[Long](EngineColumns.IngestSeq)))
        .maxBy(r => (r.get(1), r.get(4)))(FeatureStore.EventOrder))
    }
  }

  /** Every read of `root` equals history's latest-per-key. */
  private def assertServesHistory(root: String, what: String, keys: Seq[String]): Unit = {
    val fs = new FeatureStore(spark, root)
    val want = fromHistory(fs)
    val g = fs.describeGroup("ev")
    val online = fs.online("ev").collect().map(r =>
      r.getAs[String]("k") -> FeatureStore.renderWireRow(g, r)).toMap
    assert(online == want, s"$what: online() differs from history")
    Seq(fs, new FeatureStore(spark, root, maxServingCacheRows = 3)).foreach { s =>
      keys.foreach(k => assert(s.getRecord("ev", k) == want.get(k), s"$what: getRecord($k)"))
    }
  }

  test("a torn base version heals from history on both commit paths, for ingest and delete") {
    val keys = (0 until 200).map(i => s"k$i")
    for (path <- Seq("driver", "spark"); op <- Seq("ingest", "delete");
         first <- Seq("bucket 2", "another bucket")) {
      val what = s"$path path, $op into $first first"
      val root = Files.createTempDirectory("fs_torn_heal_").toString
      val fs = new FeatureStore(spark, root, targetKeysPerBucket =
        if (path == "spark") SparkTarget else FeatureStore.DefaultTargetKeysPerBucket)
      fs.createGroup(group)
      fs.ingest("ev", frame(keys.map(k => (k, Some(0), 1.0, s"boot-$k"))))
      val buckets = bucketsOf(root)
      assert(buckets == FeatureStore.OnlineKeyBuckets)
      assert(fs.getRecord("ev", "k0").isDefined) // the writer's cache is loaded
      def in(b: Long) = keys.filter(k => FeatureStore.keyBucketOf(k, buckets) == b)
      val inTwo = in(2L)
      assert(inTwo.size >= 2, "the scenario needs keys in bucket 2")
      // ten keys over several buckets: more rows than the Spark path's
      // target, so each commit keeps to the path under test
      val others = keys.filterNot(inTwo.contains)
      val withTwo = inTwo.head +: others.take(9)
      val withoutTwo = others.slice(9, 19)
      Files.delete(versionDir(root, 1L).resolve("_serving").resolve("bucket=2.kv"))
      def apply(ks: Seq[String], minute: Int): Unit =
        if (op == "ingest") fs.ingest("ev", frame(ks.map(k => (k, Some(minute), 2.0, s"m$minute-$k"))))
        else fs.deleteRecords("ev", ks)
      val order = if (first == "bucket 2") Seq(withTwo, withoutTwo) else Seq(withoutTwo, withTwo)
      order.zipWithIndex.foreach { case (ks, i) =>
        apply(ks, 10 + i)
        assertServesHistory(root, s"$what, commit ${i + 1}", keys)
      }
      // and a later ingest of both kinds of bucket commits on a whole version
      fs.ingest("ev", frame((withTwo ++ withoutTwo).map(k => (k, Some(30), 3.0, s"late-$k"))))
      assertServesHistory(root, s"$what, last commit", keys)
      assert(fs.getRecord("ev", withTwo.head).exists(_("s") == s"late-${withTwo.head}"))
    }
  }

  /** The model of one store: each key's rows tied at the newest (event
    * time, seq) — more than one only for an exact tie inside one batch. */
  private final class Model {
    val tied = scala.collection.mutable.Map.empty[String, Seq[Row]]
    def ingest(rs: Seq[Rec], seq: Long): Unit =
      rs.groupBy(_._1).foreach { case (k, mine) =>
        val all = tied.getOrElse(k, Nil) ++ mine.map { case (_, t, v, n) =>
          Row(k, t.map(at).orNull, v, n, seq) }
        val top = all.map(r => (r.get(1), r.get(4))).max(FeatureStore.EventOrder)
        tied(k) = all.filter(r => FeatureStore.EventOrder.equiv((r.get(1), r.get(4)), top))
          .distinct
      }
  }

  test("the driver path and the Spark path commit the same bytes for one seeded sequence of ingests and deletes") {
    for (seed <- Seq(7L, 8L)) {
      val rnd = new scala.util.Random(seed)
      // ASCII, Cyrillic, fullwidth (U+FF4B) and supplementary-plane keys:
      // UTF-8 byte order puts the supplementary ones after the fullwidth
      // ones, String.compareTo (UTF-16 units) before them
      val universe = (0 until 360).map(i => i % 9 match {
        case 0 => s"ключ-$i"
        case 1 => s"𝕂-$i"
        case 2 => s"ｋ-$i"
        case _ => s"k$i"
      })
      val roots = Seq(FeatureStore.DefaultTargetKeysPerBucket, SparkTarget).map { target =>
        val root = Files.createTempDirectory("fs_paths_").toString
        val fs = new FeatureStore(spark, root, targetKeysPerBucket = target)
        fs.createGroup(group)
        (root, fs)
      }
      val model = new Model
      def note(): String = if (rnd.nextInt(8) == 0) null else s"n${rnd.nextInt(1000)}"
      // bootstrap: 300 keys, some with a null event time
      val boot = universe.take(300).map(k =>
        (k, if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(20)), rnd.nextDouble(), note()))
      roots.foreach(_._2.ingest("ev", frame(boot)))
      model.ingest(boot, 0L)
      (1 to 14).foreach { seq =>
        if (seq % 4 != 0 && seq % 7 != 0) {
          // late events (minutes drawn from a window behind the newest) and
          // same-minute ties across batches; every fifth batch repeats a
          // row's key and minute with another value: an exact tie
          val rs0 = Seq.fill(10 + rnd.nextInt(30))(
            (universe(rnd.nextInt(universe.size)),
              if (rnd.nextInt(25) == 0) None else Some(rnd.nextInt(20 + 2 * seq)),
              rnd.nextDouble(), note()))
          val rs = if (seq % 5 == 0) rs0 :+ rs0.head.copy(_3 = -1.0, _4 = "tie") else rs0
          val jobs = roots.map { case (_, fs) => sparkWorkDuring(fs.ingest("ev", frame(rs)))._1 }
          assert(jobs.head == 1 && jobs(1) > 1 && jobs(1) <= 6, s"seed $seed seq $seq: ingest jobs $jobs")
          model.ingest(rs, seq.toLong)
        } else if (seq % 4 == 0) {
          val ks = Seq.fill(5 + rnd.nextInt(4))(universe(rnd.nextInt(universe.size))).distinct
          val jobs = roots.map { case (_, fs) => sparkWorkDuring(fs.deleteRecords("ev", ks))._1 }
          assert(jobs.head == 1 && jobs(1) > 1 && jobs(1) <= 3, s"seed $seed seq $seq: delete jobs $jobs")
          ks.foreach(model.tied.remove)
        } else {
          // a frame delete takes the Spark side on both roots; its null key
          // is dropped and its repeated key deleted once
          val ks = Seq.fill(10 + rnd.nextInt(20))(universe(rnd.nextInt(universe.size)))
          val keys = spark.createDataFrame((ks :+ ks.head :+ null).map(Row(_)).asJava,
            StructType(Seq(StructField("key", StringType))))
          val jobs = roots.map { case (_, fs) => sparkWorkDuring(fs.deleteRecordsFrame("ev", keys))._1 }
          assert(jobs.forall(_ <= 6), s"seed $seed seq $seq: frame delete jobs $jobs")
          ks.foreach(model.tied.remove)
        }
        val Seq((driverRoot, _), (sparkRoot, _)) = roots
        val v = latest(driverRoot)
        assert(latest(sparkRoot) == v && v == seq + 1L, s"seed $seed seq $seq: versions")
        val (dv, sv) = (versionDir(driverRoot, v), versionDir(sparkRoot, v))
        assert(Files.readAllBytes(dv.resolve("_meta")).sameElements(
          Files.readAllBytes(sv.resolve("_meta"))), s"seed $seed v$v: _meta differs")
        def names(d: Path) = FeatureStore.kvFiles(d.resolve("_serving")).map(_.getFileName.toString)
        assert(names(dv) == names(sv), s"seed $seed v$v: bucket files differ")
        val ambiguous = model.tied.collect { case (k, rs) if rs.size > 1 => k }.toSet
        val cols = FeatureStore.versionColumns(group)
        var entries = 0
        names(dv).foreach { n =>
          val (df, sf) = (dv.resolve("_serving").resolve(n), sv.resolve("_serving").resolve(n))
          val (de, se) = Seq(df, sf).map(f => FeatureStore.kvEntries(f.toString, cols).toSeq) match {
            case Seq(a, b) => (a, b)
          }
          assert(de.map(_._1) == se.map(_._1), s"seed $seed v$v $n: keys differ")
          if (!de.exists(e => ambiguous(e._1)))
            assert(Files.readAllBytes(df).sameElements(Files.readAllBytes(sf)),
              s"seed $seed v$v $n: bytes differ")
          // each entry is the model's row; for an exact tie inside one
          // batch, which tied row wins is undefined on both paths, so only
          // membership is asserted there
          (de ++ se).foreach { case (k, r) =>
            val want = model.tied.getOrElse(k, fail(s"seed $seed v$v: $k is not live"))
            assert(want.contains(r), s"seed $seed v$v: $k holds $r, want one of $want")
          }
          entries += de.size
        }
        assert(entries == model.tied.size, s"seed $seed v$v: $entries entries for ${model.tied.size} keys")
      }
      assert(roots.map(_._2).forall(fs => universe.forall(k =>
        fs.getRecord("ev", k).isDefined == model.tied.contains(k))))
    }
  }
}
