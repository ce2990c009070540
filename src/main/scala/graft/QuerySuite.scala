package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.sql.streaming.Trigger

import graft.core.{FType, FeatureDef, FeatureGroup, FeatureStore, IndexLifecycle}
import graft.dedup.Dedup
import graft.functions.{Bpe, Dsir, GraftFunctions, LexicalRetrieval, LmPerplexity, PortableMath, TextAnalysis}
import graft.ml.FeatureML
import graft.multimodal.Multimodal
import graft.operators.{AsOfJoin, Bloom, CdcMerge, Chunking, CorpusExport, CountMin, DataQuality, DomainMix, FuzzyJoin, Graph, IntervalJoin, LatestPerKey, PrefixScan, Privacy, SaltedJoin, SequencePacking, Sessionize, Skyline}
import graft.similarity.Similarity
import graft.sources.{Bucketing, ZoneMap}
import graft.streaming.{KeyedEvent, StreamingAnnServe, StreamingBm25Serve, StreamingContainment, StreamingKnnGraph, StreamingParagraphDedup, StreamingSpanDedup, StreamingZoneMap, StreamingCurationPipeline, StreamingDecontamGate, StreamingDedup, StreamingDsirGate, StreamingHybridServe, StreamingInactivity, StreamingLatest, StreamingPerplexityGate, StreamingPhraseAlert, StreamingProfile, StreamingSemanticDedup, StreamingSessionize, StreamingSketch, StreamingTopK}

/** The correctness surface: one entry per implemented operator
  * (SURVEY.md §2 + the LLM-pipeline extension ops), each paired — where ANSI
  * SQL can express it — with a DuckDB oracle over the same parquet tables.
  *
  * Oracle discipline (the driver hash-compares values after sorting columns
  * by name):
  *  - every computed column is aliased identically on both sides;
  *  - result types match DuckDB's (counts/ranks/lengths cast to BIGINT);
  *  - double outputs are bit-exact by construction: either passed through
  *    from storage, or produced by the same sequence of IEEE ops on both
  *    sides (verified: DuckDB `list_cosine_similarity(a::DOUBLE[], ...)`
  *    matches [[graft.functions.CosineSimilarity]] bit-for-bit). Aggregated
  *    doubles are never emitted — money is summed in integer cents
  *    (`round(x*100)::BIGINT`), because a distributed double sum is
  *    order-dependent;
  *  - every result carries a total ORDER BY on both sides;
  *  - timestamps are naive-µs parquet read as UTC instants on both sides
  *    (see [[Tables]] class doc).
  */
object QuerySuite {

  // ---------------------------------------------------------------- helpers

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Conf scope for the streaming queries — two levers, applied to a child
    * session so batch queries keep the shared session's settings:
    *
    *  1. `spark.sql.shuffle.partitions` → 4. A stateful operator opens one
    *     state store PER shuffle partition (a stream-stream join opens
    *     FOUR per partition); the partition count is recorded in the
    *     checkpoint at first `start()`, so it must be set before then.
    *     State partitioning exists to spread state VOLUME, not to use
    *     cores — at this suite's volume (one staged file per micro-batch)
    *     32 partitions just multiplies fixed per-store open/commit/snapshot
    *     cost 8× with no parallelism gain (measured: q68 30–36 s at 32
    *     partitions vs single-digit at 4). At 100 TB the knob goes back up
    *     with state volume; the point is it sizes to state, not to CPUs.
    *  2. RocksDB state store provider. The default HDFS-backed provider
    *     keeps EVERY state row in executor heap — watermarks bound the row
    *     count but not the heap cliff at 100 TB. RocksDB keeps state on
    *     local disk with an in-memory working set + changelog into the
    *     checkpoint: the bounded-memory state path, exercised here so it
    *     is oracled (every streaming row in CORRECTNESS runs on it), not
    *     just available. `SPARK_GRAFT_STREAM_STATE_PROVIDER=hdfs` restores
    *     the default provider for A/B measurement.
    *
    * Implemented as a CHILD SESSION (`newSession()`: own SQLConf, shared
    * SparkContext + catalog-free temp state) rather than set/restore on the
    * caller's session: Verify runs queries concurrently on one session, and
    * a temporary session-conf mutation would race other queries' planning.
    * The body receives the child session (call sites shadow `s`), so the
    * shared session's conf is never touched. */
  private[graft] def withStreamingConf[T](outer: SparkSession)(body: SparkSession => T): T = {
    val s = outer.newSession()
    // `newSession()` starts from the GLOBAL SQLConf defaults, not from the
    // caller's runtime conf — copy the caller's effective SQL settings
    // (session timezone, parquet timestamp handling, ...) so a streaming
    // query's batch-side reads see the same world as everyone else's.
    // Static/core entries refuse runtime set — skip them.
    outer.conf.getAll.foreach { case (k, v) =>
      try s.conf.set(k, v) catch { case _: Exception => () }
    }
    Tables.configureTimestamps(s)
    s.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "4"))
    if (!sys.env.get("SPARK_GRAFT_STREAM_STATE_PROVIDER").contains("hdfs"))
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    body(s)
  }

  /** The file stream source requires a DIRECTORY; the corpus ships one
    * parquet FILE per table — stage a link/copy into a temp dir. */
  /** The q218/q219/q220 plant: full self-duplication on doc_id %7==0, a
    * 24-token cross-doc template on %7==1 — mirrored verbatim in the
    * oracles (the whole ExactSubstr family shares one fixture so the
    * one-shot, incremental, and streaming answers stay comparable). */
  private def q218Fixture(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(col("text"), lit(" "), col("text")))
        .when(pmod(col("doc_id"), lit(7)) === 1,
          concat(lit("this exact template sentence carries twenty four whole " +
            "space separated words so every twenty token window inside it " +
            "collides across the planted documents"), lit(" "), col("text")))
        .otherwise(col("text")).as("text"))

  /** The q216/q225/q226 plant: a template paragraph on 40% of docs, a
    * self-repeating doc on %5==1 — mirrored verbatim in the oracles. */
  private def q216Fixture(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(col("text"),
          lit("\n\nevery fifth document shares this exact template paragraph")))
        .when(pmod(col("doc_id"), lit(5)) === 1,
          concat(lit("every fifth document shares this exact template paragraph"),
            lit("\n\n"), col("text"), lit("\n\n"), col("text")))
        .otherwise(col("text")).as("text"))

  /** q225/q226 oracle: the q216 plant, index = even docs' paragraph
    * hashes, batch = odd docs, removed iff seen-in-index OR
    * earlier-in-batch; whitespace-only paragraphs immune. */
  private val paragraphDedupIncrementalOracle: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || chr(10) || 'every fifth document shares this exact template paragraph'
      |         WHEN doc_id % 5 = 1 THEN 'every fifth document shares this exact template paragraph' || chr(10) || chr(10) || text || chr(10) || chr(10) || text
      |         ELSE text END AS text
      |  FROM documents
      |), l AS (
      |  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS paras FROM aug
      |), e AS (
      |  SELECT doc_id, p, paras[p + 1] AS para FROM (
      |    SELECT doc_id, paras, unnest(generate_series(0, len(paras) - 1)) AS p FROM l)
      |), h AS (
      |  SELECT doc_id, p, para,
      |    CASE WHEN length(trim(para)) > 0
      |         THEN ('0x' || substr(md5(trim(para)), 1, 15))::BIGINT END AS pid
      |  FROM e
      |), idx AS (
      |  SELECT DISTINCT pid FROM h WHERE doc_id % 2 = 0 AND pid IS NOT NULL
      |), b AS (
      |  SELECT doc_id, p, para, pid FROM h WHERE doc_id % 2 = 1
      |), marked AS (
      |  SELECT doc_id, p, para,
      |    CASE WHEN pid IS NULL THEN FALSE
      |         WHEN pid IN (SELECT pid FROM idx) THEN TRUE
      |         ELSE row_number() OVER (PARTITION BY pid ORDER BY doc_id, p) > 1 END AS rm
      |  FROM b
      |), per AS (
      |  SELECT doc_id,
      |    CAST(count(*) AS BIGINT) AS n_paras,
      |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |    coalesce(array_to_string(list(para ORDER BY p) FILTER (WHERE NOT rm),
      |      chr(10) || chr(10)), '') AS clean_text
      |  FROM marked GROUP BY doc_id
      |)
      |SELECT doc_id, n_paras, n_removed, clean_text FROM per
      |WHERE doc_id % 2 = 1 ORDER BY doc_id""".stripMargin

  /** q219/q220 oracle: the q218 plant, index = even docs' window hashes,
    * batch = odd docs, removed iff seen-in-index OR earlier-in-batch. */
  private val spanDedupIncrementalOracle: String =
    """WITH aug AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text
      |         WHEN doc_id % 7 = 1 THEN 'this exact template sentence carries twenty four whole space separated words so every twenty token window inside it collides across the planted documents' || ' ' || text
      |         ELSE text END AS text
      |  FROM documents
      |), t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM aug
      |), sp AS (
      |  SELECT doc_id, p,
      |    ('0x' || substr(md5(array_to_string(toks[p+1:p+20], ' ')), 1, 15))::BIGINT AS sh
      |  FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 20)) AS p
      |        FROM t WHERE len(toks) >= 20)
      |), idx AS (
      |  SELECT DISTINCT sh FROM sp WHERE doc_id % 2 = 0
      |), b AS (
      |  SELECT doc_id, p, sh FROM sp WHERE doc_id % 2 = 1
      |), rm0 AS (
      |  SELECT doc_id, p FROM b WHERE sh IN (SELECT sh FROM idx)
      |  UNION
      |  SELECT doc_id, p FROM (
      |    SELECT doc_id, p, row_number() OVER (PARTITION BY sh ORDER BY doc_id, p) AS rn
      |    FROM b) WHERE rn > 1
      |), rmtok AS (
      |  SELECT DISTINCT doc_id, p + i AS tp
      |  FROM rm0, unnest(generate_series(0, 19)) AS u(i)
      |), e AS (
      |  SELECT doc_id, i, toks[i+1] AS tok FROM (
      |    SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1)) AS i
      |    FROM t WHERE doc_id % 2 = 1 AND len(toks) > 0)
      |), kept AS (
      |  SELECT e.doc_id, e.i, e.tok, (r.doc_id IS NOT NULL) AS rm
      |  FROM e LEFT JOIN rmtok r ON r.doc_id = e.doc_id AND r.tp = e.i
      |), per AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |    coalesce(array_to_string(list(tok ORDER BY i) FILTER (WHERE NOT rm), ' '), '') AS clean_text
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(per.n_tokens, 0) AS n_tokens,
      |  coalesce(per.n_removed, 0) AS n_removed,
      |  coalesce(per.clean_text, '') AS clean_text
      |FROM documents d LEFT JOIN per USING (doc_id)
      |WHERE d.doc_id % 2 = 1
      |ORDER BY d.doc_id""".stripMargin

  private def stageStreamDir(dir: String, table: String): String = {
    val srcDir = Files.createTempDirectory(s"graft_stream_$table")
    val target = java.nio.file.Paths.get(s"$dir/$table.parquet")
    try Files.createSymbolicLink(srcDir.resolve(s"$table.parquet"), target)
    catch { case _: Exception => Files.copy(target, srcDir.resolve(s"$table.parquet")) }
    srcDir.toString
  }

  /** q26's input, the reference pipeline's own CSV fixture, read by both
    * the query and its oracle SQL. It lives outside the repo and is absent
    * on some hosts. */
  val referenceCsv = "/root/reference/test_task_data.csv"

  /** `path`, or a `fixture missing` failure naming it — clearer than
    * Spark's PATH_NOT_FOUND surfacing mid-suite. */
  private[graft] def requireFixture(path: String): String = {
    if (!Files.exists(java.nio.file.Paths.get(path)))
      throw new java.io.FileNotFoundException(s"fixture missing: $path")
    path
  }

  /** Root for oracle side-tables. Queries whose candidate GENERATION is not
    * ANSI-expressible (xxhash64 buckets, KMeans cells) dump their candidate
    * pairs here; the oracle reads them back (`{AUX}` in the SQL — Verify
    * substitutes the sf-specific subdir) and re-derives the VERIFICATION and
    * the marks independently. Per-sf subdirs so a Bench run at another scale
    * factor cannot clobber the tables the correctness oracle reads. */
  val auxRoot = "/root/repo/target/oracle_aux"
  private def aux(dir: String, name: String): String =
    s"$auxRoot/${new java.io.File(dir).getName}/$name"

  /** The multi-query BM25 oracle, parameterized by the literal query VALUES
    * rows — q174's bit-reproducibility contract generalized to a query
    * TABLE: identical idf/saturation literals and associativity, and the
    * per-(query, doc) contribution fold runs in ascending 60-bit term_id
    * order on both sides (the engine's `sort_array` + `aggregate` HOF is
    * replayed here with `list_sort` + `list_reduce`; contributions are
    * strictly positive, so the engine's extra 0.0 init term is exact). */
  /** q199's admission threshold: per-token log-perplexity (natural log)
    * under the trusted-slice bigram LM. Shared between the query definition
    * and its oracle string so the two can never drift. */
  private val QppGateThreshold: Double = 3.41

  /** The q197/q198/q199 LM-perplexity oracle: DuckDB retrains the Laplace
    * bigram LM from the raw corpus (train/score split by the shared
    * hash-bucket rule) and replays scoring EXACTLY — portable 60-bit bigram
    * ids, `ln` via [[graft.functions.PortableMath.lnPosLongSqlSteps]] (the
    * fixed IEEE tree, bit-identical to the engine's Column form), per-doc
    * sums folded in token-position order with `list_sort` + `list_reduce`
    * (the engine's extra 0.0 init is exact: lp is never −0.0). */
  private def lmPerplexityOracle(trainPred: String, scorePred: String,
      select: String): String = {
    val lnNum = PortableMath.lnPosLongSqlSteps("num", "n").mkString(",\n    ")
    val lnDen = PortableMath.lnPosLongSqlSteps("den", "d").mkString(",\n    ")
    s"""WITH b AS (
       |  SELECT doc_id, text, lang, source,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
       |  FROM documents
       |), t AS (
       |  SELECT doc_id, bucket, lang, source,
       |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
       |  FROM b
       |), tr AS (SELECT toks FROM t WHERE $trainPred
       |), voc AS (
       |  SELECT count(DISTINCT ('0x' || substr(md5(tok), 1, 15))::BIGINT) AS v
       |  FROM (SELECT unnest(toks) AS tok FROM tr)
       |), trbg AS (
       |  SELECT ('0x' || substr(md5(toks[p+1] || chr(1) || toks[p+2]), 1, 15))::BIGINT AS bg_id,
       |         ('0x' || substr(md5(toks[p+1]), 1, 15))::BIGINT AS ctx_id
       |  FROM (SELECT toks, unnest(generate_series(0, len(toks) - 2)) AS p FROM tr)
       |), cbg AS (SELECT bg_id, count(*) AS c FROM trbg GROUP BY 1
       |), cctx AS (SELECT ctx_id, count(*) AS c FROM trbg GROUP BY 1
       |), sc AS (SELECT doc_id, toks, lang, source FROM t WHERE $scorePred
       |), scbg AS (
       |  SELECT doc_id, p,
       |    ('0x' || substr(md5(toks[p+1] || chr(1) || toks[p+2]), 1, 15))::BIGINT AS bg_id,
       |    ('0x' || substr(md5(toks[p+1]), 1, 15))::BIGINT AS ctx_id
       |  FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 2)) AS p FROM sc)
       |), prob AS (
       |  SELECT s.doc_id, s.p,
       |    coalesce(cbg.c, 0) + 1 AS num,
       |    coalesce(cctx.c, 0) + voc.v AS den
       |  FROM scbg s LEFT JOIN cbg USING (bg_id) LEFT JOIN cctx USING (ctx_id) CROSS JOIN voc
       |), lp AS (
       |  SELECT doc_id, p,
       |    $lnNum,
       |    $lnDen,
       |    n_ln - d_ln AS lp
       |  FROM prob
       |), per AS (
       |  SELECT doc_id, count(*) AS n_bigrams,
       |    list_reduce(list_sort(list({'t': p, 'c': lp})),
       |      (a, b) -> {'t': b.t, 'c': a.c + b.c}).c AS s
       |  FROM lp GROUP BY 1
       |), scored AS (
       |  SELECT sc.doc_id, sc.lang, sc.source,
       |    CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |    CASE WHEN per.n_bigrams > 0
       |         THEN round((-(per.s)) / per.n_bigrams::DOUBLE, 6) END AS logppl
       |  FROM sc LEFT JOIN per USING (doc_id)
       |)
       |$select""".stripMargin
  }

  /** The q204 DSIR oracle: DuckDB refits both hashed-feature multinomials
    * from the raw corpus and replays scoring + ranking EXACTLY — unigram
    * and bigram features hash to `% buckets` ids, every `ln` is the
    * [[PortableMath.lnPosLongSqlSteps]] fixed IEEE tree (the smoothing
    * denominators included — both engines constant-fold the same tree over
    * the same integer), per-doc sums fold in (pos, kind) order, and
    * `row_number` over the bit-identical averages reproduces the engine's
    * distributed rank. */
  private def dsirOracle(targetPred: String, scorePred: String,
      buckets: Int, tail: String): String = {
    val lnT = PortableMath.lnPosLongSqlSteps("tn", "t").mkString(",\n    ")
    val lnR = PortableMath.lnPosLongSqlSteps("rn", "r").mkString(",\n    ")
    val lnTd = PortableMath.lnPosLongSqlSteps("t_den_src", "td").mkString(",\n    ")
    val lnRd = PortableMath.lnPosLongSqlSteps("r_den_src", "rd").mkString(",\n    ")
    s"""WITH d AS (
       |  SELECT doc_id, lang, source,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket,
       |    ($targetPred) AS is_t,
       |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
       |  FROM documents
       |), u AS (
       |  SELECT doc_id, is_t, p, 0 AS k,
       |    ('0x' || substr(md5(toks[p+1]), 1, 15))::BIGINT % $buckets AS fb
       |  FROM (SELECT doc_id, is_t, toks,
       |          unnest(generate_series(0, len(toks) - 1)) AS p
       |        FROM d WHERE len(toks) >= 1)
       |), g AS (
       |  SELECT doc_id, is_t, p, 1 AS k,
       |    ('0x' || substr(md5(toks[p+1] || chr(1) || toks[p+2]), 1, 15))::BIGINT % $buckets AS fb
       |  FROM (SELECT doc_id, is_t, toks,
       |          unnest(generate_series(0, len(toks) - 2)) AS p
       |        FROM d WHERE len(toks) >= 2)
       |), feats AS (SELECT * FROM u UNION ALL SELECT * FROM g
       |), ct AS (SELECT fb, count(*) AS c_t FROM feats WHERE is_t GROUP BY 1
       |), cr AS (SELECT fb, count(*) AS c_r FROM feats GROUP BY 1
       |), tot AS (
       |  SELECT (SELECT coalesce(sum(c_t), 0) FROM ct) + $buckets AS t_den_src,
       |         (SELECT coalesce(sum(c_r), 0) FROM cr) + $buckets AS r_den_src
       |), totln AS (
       |  SELECT $lnTd,
       |    $lnRd
       |  FROM tot
       |), prob AS (
       |  SELECT f.doc_id, f.p, f.k,
       |    coalesce(ct.c_t, 0) + 1 AS tn,
       |    coalesce(cr.c_r, 0) + 1 AS rn
       |  FROM feats f LEFT JOIN ct USING (fb) LEFT JOIN cr USING (fb)
       |), lp AS (
       |  SELECT doc_id, p, k,
       |    $lnT,
       |    $lnR,
       |    (t_ln - td_ln) - (r_ln - rd_ln) AS lp
       |  FROM prob CROSS JOIN totln
       |), per AS (
       |  SELECT doc_id, count(*) AS n_feats,
       |    list_reduce(list_sort(list({'t': p, 'k': k, 'c': lp})),
       |      (a, b) -> {'t': b.t, 'k': b.k, 'c': a.c + b.c}).c AS s
       |  FROM lp GROUP BY 1
       |), sc AS (
       |  SELECT d.doc_id, d.lang, d.source, d.bucket,
       |    CAST(coalesce(per.n_feats, 0) AS BIGINT) AS n_feats,
       |    per.s / per.n_feats::DOUBLE AS avg
       |  FROM d LEFT JOIN per USING (doc_id)
       |  WHERE $scorePred
       |$tail""".stripMargin
  }

  /** The q204 tail (continues the dsirOracle CTE list): deterministic
    * top-keepPpm selection over the replayed global rank. */
  private def dsirSelectTail(keepPpm: Long): String =
    s"""), rk AS (
       |  SELECT doc_id, n_feats, avg,
       |    CAST(row_number() OVER (ORDER BY avg DESC, doc_id) AS BIGINT) AS dsir_rank
       |  FROM sc WHERE n_feats > 0
       |), nn AS (SELECT count(*) AS n FROM rk)
       |SELECT doc_id, n_feats, round(avg, 6) AS logratio, dsir_rank,
       |  dsir_rank * 1000000 <= n * $keepPpm AS selected
       |FROM rk CROSS JOIN nn
       |UNION ALL
       |SELECT doc_id, n_feats, CAST(NULL AS DOUBLE) AS logratio,
       |  CAST(NULL AS BIGINT) AS dsir_rank, false AS selected
       |FROM sc WHERE n_feats = 0
       |ORDER BY doc_id""".stripMargin

  /** The q195/q196 oracle: the unrolled watchlist as VALUES rows
    * `(phrase_id, term_idx, term)`, matched by the same
    * all-indices-at-one-start rule the engine aggregates. */
  private def phraseWatchlistOracle(watchRows: String, docsWhere: String): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
       |  FROM documents $docsWhere
       |), pos AS (
       |  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1)) AS p
       |  FROM t WHERE len(toks) >= 1
       |), pt AS (
       |  SELECT doc_id, p, toks[p + 1] AS term FROM pos
       |), w AS (
       |  SELECT * FROM (VALUES
       |    $watchRows) v(phrase_id, term_idx, term)
       |), plen AS (
       |  SELECT phrase_id, count(*) AS m FROM w GROUP BY 1
       |), h AS (
       |  SELECT pt.doc_id, w.phrase_id, pt.p - w.term_idx AS sp, w.term_idx
       |  FROM pt JOIN w ON pt.term = w.term
       |), st AS (
       |  SELECT h.doc_id, h.phrase_id, h.sp
       |  FROM h JOIN plen USING (phrase_id)
       |  GROUP BY h.doc_id, h.phrase_id, h.sp, plen.m
       |  HAVING count(DISTINCT h.term_idx) = plen.m
       |)
       |SELECT doc_id, CAST(phrase_id AS BIGINT) AS phrase_id,
       |       CAST(count(*) AS BIGINT) AS n_phrase
       |FROM st GROUP BY 1, 2 ORDER BY doc_id, phrase_id""".stripMargin

  /** The q181/q183 oracle: hybrid RRF over the exact lexical (q176 CTEs,
    * top-20) and dense (q17 cosine ranking, top-20) arms, fused with the
    * engine's two-term IEEE fold — shared because q183 is the SAME retrieval
    * streamed (dense arm at full probe = exact). */
  private def hybridRrfOracle: String =
    s"""WITH ${bm25RankedCtes(
      """(0, ['spark', 'hash']),
        |    (7, ['merge', 'scan']),
        |    (42, ['dup'])""".stripMargin, "")},
       |lex AS (
       |  SELECT query_id, doc_id, rank AS lr FROM ranked WHERE rank <= 20
       |), qv AS (
       |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
       |  FROM embeddings WHERE vec_id IN (0, 7, 42)
       |), cvs AS (
       |  SELECT vec_id AS nbr_id, embedding::DOUBLE[] AS cv FROM embeddings
       |), semscored AS (
       |  SELECT query_id, nbr_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY list_cosine_similarity(qvec, cv) DESC, nbr_id) AS sr
       |  FROM qv JOIN cvs ON query_id <> nbr_id
       |), sem AS (
       |  SELECT query_id, nbr_id AS doc_id, sr FROM semscored WHERE sr <= 20
       |), fused AS (
       |  SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
       |         coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |         round(coalesce(1.0 / (60.0 + lr::DOUBLE), 0.0)
       |             + coalesce(1.0 / (60.0 + sr::DOUBLE), 0.0), 6) AS rrf
       |  FROM lex FULL OUTER JOIN sem
       |    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id
       |), final AS (
       |  SELECT query_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
       |    doc_id, rrf
       |  FROM fused
       |)
       |SELECT query_id, rank, doc_id, rrf
       |FROM final WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private def bm25MultiQueryOracle(valuesRows: String,
      docsWhere: String = "", maxDfPpm: Long = 1000000L): String =
    s"""WITH ${bm25RankedCtes(valuesRows, docsWhere, maxDfPpm)}
       |SELECT query_id, rank, doc_id, dl, score
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** The CTE chain (ending in `ranked`) behind [[bm25MultiQueryOracle]],
    * reusable as the lexical ARM of a fusion oracle. `maxDfPpm < 1e6`
    * replays the engine's stop-term cut with the same integer rule. */
  private def bm25RankedCtes(valuesRows: String, docsWhere: String,
      maxDfPpm: Long = 1000000L): String =
    s"""t AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
       |  FROM documents $docsWhere
       |), d AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t
       |), consts AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d
       |), q AS (
       |  SELECT * FROM (VALUES
       |    $valuesRows) AS v(query_id, terms)
       |), qt AS (
       |  SELECT query_id, unnest(terms) AS term FROM q
       |), tok AS (
       |  SELECT doc_id, unnest(toks) AS term FROM d
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok
       |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2
       |), dfreq AS (
       |  ${if (maxDfPpm >= 1000000L)
             "SELECT term, count(*) AS df FROM tf GROUP BY 1"
           else
             s"SELECT term, df FROM (SELECT term, count(*) AS df FROM tf GROUP BY 1) x " +
             s"CROSS JOIN consts WHERE x.df * 1000000 <= $maxDfPpm * consts.n_docs"}
       |), contrib AS (
       |  SELECT qt.query_id, tf.doc_id, d.dl,
       |    ('0x' || substr(md5(tf.term), 1, 15))::BIGINT AS term_id,
       |    ((consts.n_docs::DOUBLE - dfreq.df::DOUBLE + 0.5) / (dfreq.df::DOUBLE + 0.5))
       |      * (tf.tf::DOUBLE * (1.2 + 1.0)) /
       |      (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * (d.dl::DOUBLE /
       |        (consts.sum_dl::DOUBLE / consts.n_docs::DOUBLE)))) AS c
       |  FROM qt JOIN tf USING (term) JOIN d USING (doc_id)
       |  JOIN dfreq USING (term) CROSS JOIN consts
       |), per AS (
       |  SELECT query_id, doc_id, dl,
       |    round(list_reduce(list_sort(list({'t': term_id, 'c': c})),
       |      (a, b) -> {'t': b.t, 'c': a.c + b.c}).c, 6) AS score
       |  FROM contrib GROUP BY 1, 2, 3
       |), ranked AS (
       |  SELECT CAST(query_id AS BIGINT) AS query_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       |    doc_id, dl, score
       |  FROM per
       |)""".stripMargin

  /** Orders tagged with their customer's nation — the q130/q132 stratum frame. */
  private def ordersByNation(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
      .select(col("o_orderkey"), col("n_name"))

  /** Largest-remainder (Hamilton) allocation of `budgetOf(total)` across the
    * strata of `rows` (column n_name): allocations sum EXACTLY to the
    * budget. The two driver-side scalars are the totals the method
    * inherently needs; everything else is one aggregation shuffle plus a
    * window over the |strata|-row frame. */
  private def quotaAlloc(rows: DataFrame, budgetOf: Long => Long): DataFrame = {
    val counts = rows.groupBy(col("n_name")).agg(count(lit(1)).as("n_orders"))
    val total = counts.agg(sum("n_orders")).first().getLong(0)
    val budget = budgetOf(total)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("rem"), col("n_name"))
    val base = counts
      .withColumn("floor_alloc", expr(s"($budget * n_orders) div $total"))
      .withColumn("rem", expr(s"($budget * n_orders) % $total"))
    val short = budget - base.agg(sum("floor_alloc")).first().getLong(0)
    base
      .withColumn("rk", row_number().over(w))
      .select(col("n_name"), col("n_orders").cast("long").as("n_orders"),
        (col("floor_alloc") + when(col("rk") <= short, 1L).otherwise(0L))
          .cast("long").as("alloc"))
  }

  /** Top-20 exact counts + CMS estimates — the q122/q123 output shape.
    * Shared so the streaming-merged grid (q123) runs under the IDENTICAL
    * projection as the batch grid (q122): same oracle, so a green pair
    * proves merge(partial grids) == one-shot grid exactly. */
  private def cmsTopEstimates(ev: DataFrame, grid: DataFrame): DataFrame = {
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_n"))
      .orderBy(desc("exact_n"), col("user_id")).limit(20)
    CountMin.estimate(grid, top, "user_id", depth = 4, width = 1024)
      .join(top, "user_id")
      .select(col("user_id"), col("exact_n").cast("long").as("exact_n"),
        col("cms_est").cast("long").as("cms_est"),
        (col("cms_est") >= col("exact_n")).as("never_under"))
      .orderBy(desc("exact_n"), col("user_id"))
  }

  /** CMS grid + top-20 estimate oracle shared by q122 (batch) and q123
    * (stream-merged) — the grid is md5-derived, hence engine-portable. */
  /** First-principles dHash re-derivation shared by q165/q168: closed-form
    * scene pixels → exact integer-grid sampling → 63 gradient-sign bits →
    * one BIGINT per asset. Ends mid-WITH (callers append their own CTEs). */
  private val dhashCte: String =
    """WITH g AS (
      |  SELECT doc_id AS asset_id, doc_id % 50 AS scene,
      |         8 + (doc_id % 50) % 9 AS w, 8 + (doc_id % 50) % 7 AS h,
      |         (doc_id // 50) * 11 AS shift
      |  FROM documents),
      |pts AS (
      |  SELECT asset_id, d, r,
      |    ((scene*37 + (d*w//10)*(d*w//10)*7 + (r*h//7)*(r*h//7)*13
      |      + (d*w//10)*(r*h//7)*5 + shift) % 256) AS gray
      |  FROM g, range(10) td(d), range(7) tr(r)),
      |bits AS (
      |  SELECT a.asset_id,
      |    CASE WHEN b.gray > a.gray THEN (1::BIGINT << (a.r*9 + a.d))
      |         ELSE 0::BIGINT END AS bit
      |  FROM pts a JOIN pts b ON b.asset_id = a.asset_id AND b.r = a.r AND b.d = a.d + 1
      |  WHERE a.d < 9),
      |hashes AS (SELECT asset_id, sum(bit)::BIGINT AS dhash FROM bits GROUP BY asset_id),
      |""".stripMargin

  /** q163's full PSI re-derivation; q166 shares it verbatim — the streaming
    * monitor folds linear bucket counts, so its accumulated PSI equals the
    * one-shot computation exactly (the cmsOracle mergeability pattern). */
  private val psiOracle =
    """WITH base AS (SELECT least(9, greatest(0, CAST(floor(value / 50.0) AS INT))) AS bucket
      |              FROM events WHERE user_id % 2 = 0),
      |cur AS (SELECT least(9, greatest(0, CAST(floor(value / 50.0) AS INT))) AS bucket
      |        FROM events WHERE user_id % 2 = 1),
      |b AS (SELECT bucket, count(*) AS nb FROM base GROUP BY bucket),
      |c AS (SELECT bucket, count(*) AS nc FROM cur GROUP BY bucket),
      |spine AS (SELECT CAST(unnest(generate_series(0, 9)) AS INT) AS bucket),
      |j AS (SELECT s.bucket, coalesce(nb, 0) AS nb, coalesce(nc, 0) AS nc
      |      FROM spine s LEFT JOIN b USING (bucket) LEFT JOIN c USING (bucket)),
      |t AS (SELECT bucket, nb, nc,
      |        (nb + 1)::DOUBLE / ((SELECT sum(nb) FROM j) + 10) AS p,
      |        (nc + 1)::DOUBLE / ((SELECT sum(nc) FROM j) + 10) AS q
      |      FROM j)
      |SELECT bucket, CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_cur,
      |  round((p - q) * ln(p / q), 6) AS term
      |FROM t ORDER BY bucket""".stripMargin

  private val cmsOracle =
    """WITH i AS (SELECT unnest([0, 1, 2, 3]) AS row),
      |g AS (SELECT row,
      |             ('0x' || substr(md5(row::VARCHAR || ':' || user_id::VARCHAR), 1, 8))::BIGINT % 1024 AS bucket,
      |             count(*) AS c
      |      FROM events CROSS JOIN i GROUP BY 1, 2),
      |top AS (SELECT user_id, count(*) AS exact_n FROM events
      |        GROUP BY user_id ORDER BY exact_n DESC, user_id LIMIT 20),
      |est AS (SELECT t.user_id, min(coalesce(g.c, 0)) AS cms_est
      |        FROM (SELECT user_id, row,
      |                ('0x' || substr(md5(row::VARCHAR || ':' || user_id::VARCHAR), 1, 8))::BIGINT % 1024 AS bucket
      |              FROM top CROSS JOIN i) t
      |        LEFT JOIN g USING (row, bucket) GROUP BY 1)
      |SELECT top.user_id, CAST(exact_n AS BIGINT) AS exact_n,
      |       CAST(cms_est AS BIGINT) AS cms_est, cms_est >= exact_n AS never_under
      |FROM top JOIN est USING (user_id)
      |ORDER BY exact_n DESC, top.user_id""".stripMargin

  /** As-of oracle shared by q04 (plain form) and q60 (bucketed form) —
    * identical semantics by construction, so the SQL is shared verbatim. */
  private val asofOracle =
    """WITH v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
      |p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT v.event_id, v.user_id, v.ts, v.value,
      |         p.event_id AS asof_event_id, p.value AS asof_value, p.ts AS asof_ts,
      |         row_number() OVER (PARTITION BY v.event_id ORDER BY p.ts DESC, p.event_id DESC) AS rn
      |  FROM v LEFT JOIN p ON p.user_id = v.user_id AND p.ts <= v.ts)
      |SELECT event_id, user_id, ts, value, asof_event_id, asof_value, asof_ts
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** Latest-per-key output projection shared by q01/q02/q10/q11. */
  private val latestCols = Seq("user_id", "event_id", "ts", "event_type", "value")

  /** Shared by q157 (Column API) and q162 (SQL text) — the two forms build
    * the identical interleave, so one oracle gates both.
    * epoch_us // 1000000 floors to whole seconds, matching Spark's
    * unix_timestamp truncation on the naive-µs corpus timestamps. */
  private val zorder3Oracle: String = {
    val terms = (0 until 16).map(i =>
      s"((((u >> $i) & 1) << ${3 * i}) | (((v >> $i) & 1) << ${3 * i + 1})" +
        s" | (((t >> $i) & 1) << ${3 * i + 2}))").mkString(" | ")
    s"""WITH b AS (SELECT event_id, user_id & 65535 AS u,
       |  CAST(round(value * 100) AS BIGINT) & 65535 AS v,
       |  (epoch_us(ts) // 1000000) & 65535 AS t FROM events)
       |SELECT event_id, CAST(($terms) AS BIGINT) AS zv FROM b ORDER BY event_id""".stripMargin
  }

  // full BM25 (k1=1.2, b=0.75) re-derived from scratch over the raw corpus:
  // whitespace tokens, Robertson idf, length-normalized tf, ordered
  // three-term fold — shared by q174 (Column API, direct) and q232 (SQL
  // text, persisted index): three constructions, one contract
  private val bm25TopKOracle =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
      |  FROM documents
      |), d AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM t
      |), consts AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d
      |), tok AS (
      |  SELECT doc_id, unnest(toks) AS term FROM d
      |), tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM tok
      |  WHERE term IN ('spark', 'window', 'hash') GROUP BY 1, 2
      |), dfreq AS (
      |  SELECT term, count(*) AS df FROM tf GROUP BY 1
      |), contrib AS (
      |  SELECT tf.doc_id, tf.term, d.dl,
      |    ((consts.n_docs::DOUBLE - dfreq.df::DOUBLE + 0.5) / (dfreq.df::DOUBLE + 0.5))
      |      * (tf.tf::DOUBLE * (1.2 + 1.0)) /
      |      (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * (d.dl::DOUBLE /
      |        (consts.sum_dl::DOUBLE / consts.n_docs::DOUBLE)))) AS c
      |  FROM tf JOIN d USING (doc_id) JOIN dfreq USING (term) CROSS JOIN consts
      |), per AS (
      |  SELECT doc_id, dl,
      |    round(coalesce(sum(CASE WHEN term = 'spark' THEN c END), 0.0)
      |      + coalesce(sum(CASE WHEN term = 'window' THEN c END), 0.0)
      |      + coalesce(sum(CASE WHEN term = 'hash' THEN c END), 0.0), 6) AS score
      |  FROM contrib GROUP BY doc_id, dl
      |)
      |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
      |       doc_id, dl, score
      |FROM per ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  private val latestOracle =
    """SELECT user_id, event_id, ts, event_type, value FROM (
      |  SELECT user_id, event_id, ts, event_type, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- A1: latest-per-key, the online-store semantic (SURVEY §2.5) ----
    "q01_latest_maxby" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      LatestPerKey.viaMaxBy(e, Seq("user_id"), "ts", Seq("event_id"))
        .select(latestCols.map(col): _*).orderBy("user_id")
    }),
    "q02_latest_window" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      LatestPerKey.viaWindow(e, Seq("user_id"), "ts", Seq("event_id"))
        .select(latestCols.map(col): _*).orderBy("user_id")
    }),

    // ---- P1+P2: projection + inclusive time-range (SURVEY §2.3). `ts` is
    //      a plain parquet timestamp column now, so the BETWEEN bound
    //      itself reaches the scan (PushedFilters → row-group stats
    //      skipping — the thing that makes a time-range scan cheap at
    //      100 TB). Asserted by PlanPropertiesSpec ----
    "q03_time_range" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("ts").between(
          lit("2024-01-10 00:00:00").cast(TimestampType),
          lit("2024-01-20 23:59:59").cast(TimestampType)))
        .select("event_id", "user_id", "ts", "value")
        .orderBy("event_id")
    }),

    // ---- J2: point-in-time as-of join (SURVEY §2.6) ----
    "q04_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts", "value")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      AsOfJoin.backward(views, purchases,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts", rightTime = "ts",
        rightTiebreak = "event_id",
        rightValueCols = Seq("event_id", "value"))
        .select("event_id", "user_id", "ts", "value", "asof_event_id", "asof_value", "asof_ts")
        .orderBy("event_id")
    }),

    // ---- session windows (extension; SURVEY §2.8) ----
    "q05_sessionize" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      Sessionize.byGap(e, "user_id", "ts", "event_id", gapSeconds = 1800)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
        .orderBy("user_id", "session_id")
    }),

    // ---- top-N per key (generalized A1) ----
    "q06_topn_per_key" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      LatestPerKey.topNPerKey(e, Seq("user_id"), Seq(col("value").desc, col("event_id").asc), 3)
        .select(col("user_id"), col("rn").cast("long").as("rn"), col("event_id"), col("value"))
        .orderBy("user_id", "rn")
    }),

    // ---- grouped aggregation (pricing summary; money in integer cents so the
    //      sum is order-independent — a distributed double sum is not) ----
    "q07_agg_pricing" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
          sum(round(col("l_discount") * 100).cast("long")).as("sum_disc_pct"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // ---- multi-join + aggregation; nation is broadcast (tiny dim) ----
    "q08_join_revenue" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),

    // ---- S4/J1: online point lookup (filter on the latest view) ----
    "q09_point_lookup" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      LatestPerKey.viaMaxBy(e, Seq("user_id"), "ts", Seq("event_id"))
        .filter(col("user_id") === 42)
        .select(latestCols.map(col): _*)
    }),

    // ---- D1/K1/K2: full FeatureStore lifecycle — create, ingest, online view ----
    "q10_feature_store_e2e" -> ((s, dir) => {
      val fs = new FeatureStore(s, tmpDir("graft_fs_"))
      val g = FeatureGroup("events_fg", "user_id", "ts", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_id", FType.Integral),
        FeatureDef("ts", FType.FTimestamp),
        FeatureDef("event_type", FType.FString),
        FeatureDef("value", FType.Fractional)))
      fs.createGroup(g)
      fs.ingest("events_fg", Tables.events(s, dir))
      fs.online("events_fg")
        .select(latestCols.map(col): _*).orderBy("user_id")
    }),

    // ---- STREAM-STATIC enrichment (StreamingEnrich — the serving-side
    //      pattern): an events stream joins the online store's
    //      latest-per-key snapshot by key, per micro-batch (snapshot
    //      re-read through the LATEST pointer each batch, so concurrent
    //      ingests become visible at the next batch) ----
    "q161_stream_enrich" -> ((s, dir) => withStreamingConf(s) { s =>
      val fs = new FeatureStore(s, tmpDir("q161_store_"))
      fs.createGroup(FeatureGroup("Enrich", "user_id", "event_time", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_time", FType.FTimestamp),
        FeatureDef("latest_value", FType.Fractional))))
      fs.ingest("Enrich",
        graft.operators.LatestPerKey.viaMaxBy(
            Tables.events(s, dir), Seq("user_id"), "ts", Seq("event_id"))
          .select(col("user_id"), col("ts").as("event_time"),
            col("value").as("latest_value")))
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
      val out = tmpDir("q161_out_")
      val q = graft.streaming.StreamingEnrich.start(stream, fs, "Enrich",
        "user_id", Seq("latest_value"), out, tmpDir("q161_ckpt_"))
      q.awaitTermination()
      s.read.parquet(out)
        .select("event_id", "user_id", "value", "latest_value")
        .orderBy("event_id")
    }),

    // ---- A1 form ③: stateful streaming latest-per-key (SURVEY §2.8) ----
    "q11_streaming_latest" -> ((s, dir) => withStreamingConf(s) { s =>
      import s.implicits._
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .select(
          col("user_id"),
          col("ts"),
          col("event_id"), col("event_type"), col("value"))
        .as[KeyedEvent]
      val qname = s"q11_out_${System.nanoTime()}" // unique: Verify runs queries concurrently
      val q = StreamingLatest.latestPerKey(stream)
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q11_ckpt_"))
        .start()
      q.awaitTermination()
      // one output row per key per micro-batch; collapse to the final state
      LatestPerKey.viaMaxBy(s.table(qname), Seq("user_id"), "ts", Seq("event_id"))
        .select(latestCols.map(col): _*).orderBy("user_id")
    }),

    // ---- dedup: exact (hash-groupBy) ----
    "q12_dedup_exact" -> ((s, dir) => {
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text").orderBy("text_hash")
    }),

    // ---- dedup: MinHash+LSH → per-doc keep/drop marks. The signature index
    //      is a persisted parquet table (FileScan, the 100 TB mode) and the
    //      candidate pairs are dumped for the oracle, which re-derives the
    //      exact-Jaccard verification + marks independently ----
    "q13_dedup_minhash" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5,
        indexPath = Some(aux(dir, "q13_sigindex")),
        candidateSink = Some(aux(dir, "q13_candidates")))
      Dedup.marksFromPairs(docs, "doc_id", pairs).orderBy("doc_id")
    }),

    // ---- dedup: INCREMENTAL MinHash — the daily-batch production flow.
    //      Even doc_ids are the already-indexed corpus (their signature
    //      table is rebuilt from scratch each run, so the query is
    //      deterministic); odd doc_ids arrive as the new batch and dedup
    //      against (and into) the index. Candidates dumped with their
    //      new-batch tags; the oracle re-derives verification, the
    //      incremental keep/drop orientation, and the marks ----
    "q55_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
      val batch1 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val batch2 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      val idx = aux(dir, "q55_sigindex")
      Dedup.buildMinhashIndex(batch1, "doc_id", "text", idx) // overwrite: deterministic per run
      val pairs = Dedup.minhashLshIncremental(batch2, "doc_id", "text", idx,
        batchId = "day2", threshold = 0.5,
        candidateSink = Some(aux(dir, "q55_candidates")))
      Dedup.incrementalMarks(batch2, "doc_id", pairs).orderBy("doc_id")
    }),

    // ---- STREAMING near-dup ingest: q55's flow driven through
    //      foreachBatch — even doc_ids seed the index, odd doc_ids arrive
    //      as the stream (one AvailableNow micro-batch from the staged
    //      file), dedup against the index, kept docs land in per-batch
    //      partitions. Output == q55's marks by construction, so the two
    //      paths share oracle semantics (cross-micro-batch behavior is
    //      spec'd in StreamingDedupSpec) ----
    "q72_stream_dedup_index" -> ((s, dir) => withStreamingConf(s) { s =>
      val docs = Tables.documents(s, dir)
      val idx = aux(dir, "q72_sigindex")
      Dedup.buildMinhashIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", idx)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .parquet(stageStreamDir(dir, "documents"))
        .filter(pmod(col("doc_id"), lit(2)) === 1)
      val kept = aux(dir, "q72_kept")
      val q = StreamingDedup.start(stream, "doc_id", "text", idx, kept,
        tmpDir("q72_ckpt_"), threshold = 0.5,
        candidateSink = Some(aux(dir, "q72_candidates")))
      q.awaitTermination()
      // gate-sink read contract: explicit schema — a gate may legitimately
      // keep ZERO rows, and an empty sink must read as an empty frame, not
      // a schema-inference error (the q199-at-sf10 finding, applied to the
      // class; same at every gate reader below)
      val keptIds = s.read.schema("doc_id LONG, text STRING, lang STRING, " +
          "source STRING, n_chars LONG, batch STRING")
        .parquet(kept).select(col("doc_id"))
        .withColumn("__kept", lit(true))
      docs.filter(pmod(col("doc_id"), lit(2)) === 1).select(col("doc_id"))
        .join(keptIds, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("__kept") === false, lit(true)).as("is_duplicate"))
        .orderBy("doc_id")
    }),

    // ---- STREAMING semantic near-dup ingest (StreamingSemanticDedup —
    //      q72's vector face): even vec_ids bootstrap the persisted
    //      centroid+vector index; odd vec_ids arrive as a STREAM, each
    //      micro-batch assigning against the frozen geometry and folding
    //      into per-batch index partitions. Tagged candidates dumped; the
    //      oracle re-derives cosine, orientation, and marks (q70 contract,
    //      agnostic to the batching) ----
    "q152_stream_semantic" -> ((s, dir) => withStreamingConf(s) { s =>
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q152_vecindex")
      // targetCell > 0 = the k ∝ n regime (the only honest shape at scale:
      // fixed k makes candidate verification grow linearly in n — measured
      // 51 s at sf1 with k=16 vs sub-linear under k ∝ n); past the cutover
      // the stored geometry goes two-level and every micro-batch assigns
      // with the same map-only hierarchy
      Dedup.buildSemanticIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, targetCell = 100)
      val stream = s.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .parquet(stageStreamDir(dir, "embeddings"))
        .filter(pmod(col("vec_id"), lit(2)) === 1)
      val kept = aux(dir, "q152_kept")
      val q = StreamingSemanticDedup.start(stream, "vec_id", "embedding", idx, kept,
        tmpDir("q152_ckpt_"), threshold = 0.9,
        candidateSink = Some(aux(dir, "q152_candidates")))
      q.awaitTermination()
      val keptIds = s.read
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT, batch STRING")
        .parquet(kept).select(col("vec_id"))
        .withColumn("__kept", lit(true))
      emb.filter(pmod(col("vec_id"), lit(2)) === 1).select(col("vec_id"))
        .join(keptIds, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("__kept") === false, lit(true)).as("is_duplicate"))
        .orderBy("vec_id")
    }),

    // ---- STREAMING ANN serving (StreamingAnnServe — the online face of
    //      the persisted IVFADC index): the index is built offline once;
    //      query vectors arrive as a STREAM and each micro-batch is served
    //      fit-free (stage 1 reads only probe-pruned m-byte codes), top-k
    //      landing in per-batch partitions. Real-time inference for a
    //      vector feature; oracle is q151's over the per-batch dumps ----
    "q160_stream_ann" -> ((s, dir) => withStreamingConf(s) { s =>
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q160_pqindex")
      Similarity.buildIvfadcIndex(emb, "vec_id", "embedding", idx,
        nCells = 16, m = 4, codebookSize = 16, fitMaxIter = 8,
        fitSampleFraction = 0.25)
      val stream = s.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .parquet(stageStreamDir(dir, "embeddings"))
        .filter(col("vec_id") < 10)
      val out = aux(dir, "q160_served")
      val q = StreamingAnnServe.start(stream, "vec_id", "embedding", idx, out,
        tmpDir("q160_ckpt_"), k = 5, nProbe = 8, shortlist = 50,
        excludeSelf = true, candidateSink = Some(aux(dir, "q160_candidates")))
      q.awaitTermination()
      s.read.parquet(out).select("query_id", "nbr_rank", "nbr_id", "cosine")
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- incremental SEMANTIC dedup: even vec_ids bootstrap the persisted
    //      centroid+vector index; odd vec_ids arrive as the new batch,
    //      assign against the frozen centroids, and dedup against (and
    //      into) the index. Tagged candidates dumped; the oracle re-derives
    //      cosine verification, orientation, and marks (q55 contract) ----
    "q70_semantic_incremental" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val base = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      val idx = aux(dir, "q70_vecindex")
      // overwrite: deterministic per run; targetCell>0 = k ∝ n (see q152)
      Dedup.buildSemanticIndex(base, "vec_id", "embedding", idx, targetCell = 100)
      val pairs = Dedup.semanticDedupIncremental(batch, "vec_id", "embedding", idx,
        batchId = "day2", threshold = 0.9,
        candidateSink = Some(aux(dir, "q70_candidates")))
      Dedup.incrementalMarks(batch, "vec_id", pairs)
        .withColumnRenamed("doc_id", "vec_id").orderBy("vec_id")
    }),

    // ---- dedup: SimHash. Candidates (with both simhash values) dumped; the
    //      oracle recomputes hamming, the radius filter and the marks ----
    "q14_dedup_simhash" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
      val pairs = Dedup.simhash(docs, "doc_id", "text",
        candidateSink = Some(aux(dir, "q14_candidates")))
      Dedup.marksFromPairs(docs, "doc_id", pairs).orderBy("doc_id")
    }),

    // ---- dedup: character n-gram Jaccard. sampleMod=1 → the inverted index
    //      is exhaustive up to the document-frequency cap (maxBucket=64:
    //      grams shared by more docs are boilerplate, not dedup signal, and
    //      drive the Σ bucket² candidate blowup) and the co-occurrence floor
    //      (minMatch=3: a pair must share ≥3 low-df grams — cuts accidental
    //      single-gram candidates 94% at sf0.1 while a real jaccard-0.5 pair
    //      shares ~n/3 grams). Both knobs are mirrored in the oracle, so
    //      marks stay deterministic and fully oracle-able; at 100 TB also
    //      raise sampleMod to sample the index ----
    "q15_dedup_ngram" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.5,
        sampleMod = 1, maxBucket = 64, minMatch = 3)
      Dedup.marksFromPairs(docs, "doc_id", pairs).orderBy("doc_id")
    }),

    // ---- dedup: embedding cosine near-dup. Candidate id pairs dumped; the
    //      oracle recomputes the cosine from the stored vectors + marks ----
    "q16_dedup_embedding" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Dedup.embeddingCosine(emb, "vec_id", "embedding", threshold = 0.9,
        candidateSink = Some(aux(dir, "q16_candidates")))
      Dedup.marksFromPairs(emb, "vec_id", pairs)
        .withColumnRenamed("doc_id", "vec_id").orderBy("vec_id")
    }),

    // ---- semantic dedup (SemDeDup): sample-fit KMeans cells as candidate
    //      buckets, exact-cosine verification, min-id keep marks. Candidate
    //      pairs dumped; the oracle re-derives cosine + marks (q16 contract) ----
    "q67_dedup_semantic" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Dedup.semanticDedup(emb, "vec_id", "embedding", threshold = 0.9,
        nClusters = 16, candidateSink = Some(aux(dir, "q67_candidates")))
      Dedup.marksFromPairs(emb, "vec_id", pairs)
        .withColumnRenamed("doc_id", "vec_id").orderBy("vec_id")
    }),

    // ---- semantic dedup through the TWO-LEVEL coarse quantizer (the k ∝ n
    //      scale path past the flat-fit ceiling): targetCell/cutover tuned
    //      so the hierarchical fit + map-only two-stage assignment actually
    //      run at sf scale. Same candidate-dump oracle as q67 — the oracle
    //      verifies every claimed pair and rebuilds the marks, so it is
    //      agnostic to WHICH quantizer proposed the cells ----
    "q150_semantic_two_level" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // fitMaxIter=8: pqTopK's rate-distortion argument — the exact-cosine
      // verification absorbs cell-placement slop, and every saved iteration
      // is one driver-synchronized job in BOTH fit levels
      val pairs = Dedup.semanticDedup(emb, "vec_id", "embedding", threshold = 0.9,
        nClusters = 16, targetCell = 50, twoLevelCutover = 8, fitMaxIter = 8,
        candidateSink = Some(aux(dir, "q150_candidates")))
      Dedup.marksFromPairs(emb, "vec_id", pairs)
        .withColumnRenamed("doc_id", "vec_id").orderBy("vec_id")
    }),

    // ---- decontamination: train/test n-gram overlap over the q52 content-
    //      addressed split — per test doc, how many train docs share ≥3
    //      distinct df-capped 8-grams with it, and the worst overlap ----
    "q56_decontaminate" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      val train = docs.filter(col("bucket") < 80)
      val test = docs.filter(col("bucket") >= 90)
      val overlaps = Dedup.ngramCrossOverlap(train, test, "doc_id", "text",
        n = 8, minShared = 3, maxBucket = 64)
      test.select(col("doc_id"))
        .join(overlaps.groupBy(col("test_id").as("doc_id"))
          .agg(count(lit(1)).as("n_contaminating"), max("n_shared").as("max_shared")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_contaminating"), lit(0L)).as("n_contaminating"),
          coalesce(col("max_shared"), lit(0L)).as("max_shared"))
        .orderBy("doc_id")
    }),

    // ---- ANN: exact brute-force cosine top-k (oracle for the IVF path) ----
    "q17_ann_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, excludeSelf = true)
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- ANN: IVF (KMeans coarse quantizer, nProbe cells). Full-corpus fit
    //      here (500–50k vectors); at scale pass fitSampleFraction < 1 so the
    //      quantizer trains on a sample while assignment stays one full pass.
    //      Probe candidates dumped; the oracle re-scores and re-ranks them ----
    //      nProbe=8 of nCells=16: the shipped embeddings corpus is
    //      near-uniform on the cosine sphere (SimilaritySpec's corpus
    //      recall gate measured recall ≈ fraction-of-cells-probed: 0.58 at
    //      4/16, 0.84 at 8/16, 0.96 at 12/16), so the economical 4/16
    //      default for clustered real-world embeddings under-recalls here.
    //      On clusterable data the dial goes back down — that trade, not a
    //      fixed setting, is the operator ----
    "q18_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 8, excludeSelf = true,
          candidateSink = Some(aux(dir, "q18_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- bounded-state deterministic group sample (BottomK — the typed
    //      Aggregator UDAF surface, §2.11): per event_type, the 5 events
    //      with the smallest md5(event_id). collect_list+sort would buffer
    //      WHOLE groups; this buffer never exceeds k and partials merge
    //      associatively (map-side combine works). Content-addressed order
    //      key ⇒ the oracle replays the identical sample ----
    "q149_group_sample" -> ((s, dir) => {
      val bk = udaf(new graft.functions.BottomK(5),
        org.apache.spark.sql.Encoders.product[graft.functions.BottomK.In])
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(bk(md5(col("event_id").cast("string")),
          col("event_id").cast("string")).as("sample"))
        .select(col("event_type"), explode(col("sample")).as("s"))
        .select(col("event_type"), col("s").cast("long").as("event_id"))
        .orderBy("event_type", "event_id")
    }),

    // ---- product-quantization ANN (Similarity.pqTopK, Jégou et al. '11):
    //      stage 1 scores m-byte PQ codes via broadcast ADC tables — no
    //      vector is read at all, 32× less stage-1 IO than fp32 — and the
    //      exact-cosine rerank + candidate-dump oracle contract is q18's ----
    "q148_pq_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // 8 fit iterations: a PQ codebook is a rate-distortion device, not a
      // clustering answer — shortlist rerank absorbs placement slop, and
      // each saved iteration is m driver-synchronized MLlib jobs
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, m = 4, codebookSize = 16, shortlist = 50,
          excludeSelf = true, fitMaxIter = 8, fitSampleFraction = 0.25,
          candidateSink = Some(aux(dir, "q148_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- IVFADC (Similarity.ivfadcTopK, Jégou et al. '11 §IV — the FAISS
    //      serving shape): coarse cells + PQ codes on RESIDUALS. Stage 1
    //      reads only the probed cells' m-byte codes — both prunings at
    //      once (nProbe/nCells of the corpus, 32× less payload per row).
    //      Oracle contract is q18/q148's: candidates dump, DuckDB re-ranks
    //      by exact cosine ----
    "q151_ivfadc_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfadcTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nCells = 16, nProbe = 8, m = 4,
          codebookSize = 16, shortlist = 50, excludeSelf = true,
          fitMaxIter = 8, fitSampleFraction = 0.25,
          candidateSink = Some(aux(dir, "q151_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- IVFADC against the PERSISTED index (buildIvfadcIndex →
    //      ivfadcTopKIndexed — the fit-free serving shape for the PQ
    //      family; q151 is the exploration mode that re-fits per call).
    //      Stage 1 reads only the stored m-byte codes, probe-pruned by the
    //      cell equi-join; rerank joins the stored fp32 vectors. Oracle
    //      contract is q151's: candidate dump, DuckDB re-ranks exactly ----
    "q155_ivfadc_index" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q155_pqindex")
      Similarity.buildIvfadcIndex(emb, "vec_id", "embedding", idx,
        nCells = 16, m = 4, codebookSize = 16, fitMaxIter = 8,
        fitSampleFraction = 0.25)
      Similarity.ivfadcTopKIndexed(s, idx, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 8, shortlist = 50,
          excludeSelf = true,
          candidateSink = Some(aux(dir, "q155_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- FILTERED ANN over the persisted IVFADC index (the production
    //      vector-search shape: top-k among the docs a metadata predicate
    //      admits). The allowed-id set SEMI-JOINS the stage-1 codes scan,
    //      so filtering is EXACT — post-filtering a fixed shortlist
    //      under-fills k when the predicate is selective (the classic
    //      filtered-ANN recall bug). Probed at FULL nProbe with an
    //      uncapped shortlist the result degenerates to the exact filtered
    //      top-k, so the oracle is plain brute-force SQL over the filtered
    //      subset — no candidate dump needed ----
    "q230_ivfadc_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q230_pqindex")
      Similarity.buildIvfadcIndex(emb, "vec_id", "embedding", idx,
        nCells = 16, m = 4, codebookSize = 16, fitMaxIter = 8,
        fitSampleFraction = 0.25)
      Similarity.ivfadcTopKIndexed(s, idx, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 16, shortlist = 1 << 20,
          excludeSelf = true,
          allowed = Some(emb.filter(pmod(col("vec_id"), lit(3)) === 0)
            .select("vec_id")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- TIME TRAVEL (read-as-of): two ingests land in the offline
    //      store; the historical query is PINNED at the first ingest's
    //      seq, so the second batch — already committed when the read
    //      runs — must be invisible. The pin is a plain filter on the
    //      _ingest_seq column every offline row carries (survives
    //      compaction, composes with partition pruning); the oracle
    //      replays it as the batch-1 membership predicate ----
    "q231_time_travel" -> ((s, dir) => {
      val fs = new FeatureStore(s, tmpDir("q231_store_"))
      fs.createGroup(FeatureGroup("tt_fg", "user_id", "ts", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_id", FType.Integral),
        FeatureDef("ts", FType.FTimestamp),
        FeatureDef("event_type", FType.FString),
        FeatureDef("value", FType.Fractional))))
      val e = Tables.events(s, dir)
      val pin = fs.ingest("tt_fg", e.filter(pmod(col("event_id"), lit(2)) === 0))
      fs.ingest("tt_fg", e.filter(pmod(col("event_id"), lit(2)) === 1))
      fs.historicalQueryAsOf("tt_fg",
          Seq("event_id", "user_id", "ts", "value"),
          "2024-01-10 00:00:00", "2024-01-20 23:59:59", asOfSeq = pin)
        .orderBy("event_id")
    }),

    // ---- SQL-TEXT serving faces (GraftTableFunctions): the reference's
    //      users query through SQL text, so the highest-traffic serving
    //      ops are table-valued functions. Each TVF builds EXACTLY the
    //      Column-API plan (same code path), so these queries oracle the
    //      SQL form against the Column-API queries' DuckDB oracles ----

    // q174's BM25 top-k, served from the persisted index via SQL text
    "q232_bm25_topk_sql" -> ((s, dir) => {
      val idx = aux(dir, "q232_bm25index")
      LexicalRetrieval.buildBm25Index(Tables.documents(s, dir), "doc_id", "text", idx)
      s.sql(s"SELECT * FROM bm25_topk('$idx', 'spark window hash', 10) ORDER BY rank")
    }),

    // q12's exact-duplicate marks via SQL text over the raw corpus path
    "q233_dedup_marks_sql" -> ((s, dir) => {
      s.sql(s"SELECT * FROM dedup_exact_marks('$dir/documents.parquet', 'doc_id', 'text') " +
        "ORDER BY text_hash")
    }),

    // q198's perplexity serve via SQL text: same train split, persisted
    // LM; the serve slice is dumped to parquet and scored through the TVF
    "q234_lm_ppl_sql" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      val idx = aux(dir, "q234_lmindex")
      LmPerplexity.buildLmIndex(docs.filter(col("bucket") < 80), "doc_id", "text", idx)
      val serveDocs = aux(dir, "q234_docs")
      docs.filter(col("bucket") >= 90).select("doc_id", "text")
        .write.mode("overwrite").parquet(serveDocs)
      s.sql(s"SELECT doc_id, n_bigrams, logppl FROM lm_ppl('$idx', '$serveDocs') " +
        "ORDER BY doc_id")
    }),

    // q86's ANN serve via SQL text: persisted IVF index, queries read from
    // a parquet dump; nProbe = nCells makes the probe EXHAUSTIVE, so the
    // result is the exact top-k and the oracle is pure-SQL brute force
    // (the q230 adjudication pattern)
    "q235_ann_topk_sql" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q235_vecindex")
      Dedup.buildSemanticIndex(emb, "vec_id", "embedding", idx, nClusters = 16)
      val qPath = aux(dir, "q235_queries")
      emb.filter(col("vec_id") < 10).select("vec_id", "embedding")
        .write.mode("overwrite").parquet(qPath)
      // round(…, 6) on both sides: the self-pair cosine is 1.0000000000000002
      // under Spark's fused dot/norm order while DuckDB's
      // list_cosine_similarity lands exactly 1.0 — rank order agrees (it is
      // the max either way), only the displayed digit differs
      s.sql(s"SELECT query_id, nbr_rank, nbr_id, round(cosine, 6) AS cosine " +
        s"FROM ann_topk('$idx', '$qPath', 5, 16) ORDER BY query_id, nbr_rank")
    }),

    // ---- SQL-TEXT DML faces (round 11 — the write side of the SQL
    //      surface; reads had TVFs since q232). q236 is the MERGE-shaped
    //      statement: a CDC parquet batch (op='D' deletes, else upserts)
    //      applied to a live store through feature_store_merge — q111's
    //      CdcMerge semantics wired to ingest/deleteRecordsFrame, so the
    //      q111 oracle verifies the STORE's post-merge snapshot verbatim ----
    "q236_fs_merge_sql" -> ((s, dir) => {
      val sd = tmpDir("q236_store_")
      val fs = new FeatureStore(s, sd)
      fs.createGroup(FeatureGroup("merge_fg", "user_id", "ts", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_id", FType.Integral),
        FeatureDef("ts", FType.FTimestamp),
        FeatureDef("vc", FType.Integral))))
      val ev = Tables.events(s, dir).selectExpr("user_id", "event_id", "ts",
        "CAST(round(value * 100) AS BIGINT) AS vc", "event_type")
      val cut = lit("2024-01-16").cast(TimestampType)
      fs.ingest("merge_fg", ev.filter(col("ts") < cut).drop("event_type"))
      val chPath = aux(dir, "q236_changes")
      ev.filter(col("ts") >= cut)
        .withColumn("op",
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
        .drop("event_type")
        .write.mode("overwrite").parquet(chPath)
      s.sql("SELECT * FROM feature_store_merge(" +
        s"'$sd', 'merge_fg', '$chPath', 'op', 'event_id')").collect(): Unit
      fs.online("merge_fg").select("user_id", "event_id", "ts", "vc")
        .orderBy("user_id")
    }),

    // ---- q237: the DELETE-shaped GDPR statement — an explicit key list
    //      (WHERE key IN ...) through feature_store_delete; the oracle is
    //      q10's latest-per-key with the deleted keys filtered out, so a
    //      key the statement failed to remove (or over-removed) hashes
    //      visible ----
    "q237_fs_delete_sql" -> ((s, dir) => {
      val sd = tmpDir("q237_store_")
      val fs = new FeatureStore(s, sd)
      fs.createGroup(FeatureGroup("del_fg", "user_id", "ts", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_id", FType.Integral),
        FeatureDef("ts", FType.FTimestamp),
        FeatureDef("event_type", FType.FString),
        FeatureDef("value", FType.Fractional))))
      fs.ingest("del_fg", Tables.events(s, dir))
      // the statement's key list: every user_id ≡ 0 (mod 7) — explicit and
      // driver-sized, the DELETE-statement contract
      val doomed = Tables.events(s, dir).select("user_id").distinct()
        .filter(pmod(col("user_id"), lit(7)) === 0)
        .orderBy("user_id").collect().map(_.get(0)).mkString(",")
      s.sql(s"SELECT * FROM feature_store_delete('$sd', 'del_fg', '$doomed')")
        .collect(): Unit
      fs.online("del_fg").select(latestCols.map(col): _*).orderBy("user_id")
    }),

    // ---- q238: the COMPACT maintenance statement (round 12 — the SQL
    //      GDPR pipeline's middle step): delete a key set through
    //      feature_store_delete, then feature_store_compact rewrites the
    //      offline history folding the tombstones in; the query returns
    //      the POST-COMPACTION history through the store's own offline
    //      face, so a key the rewrite failed to erase (or over-erased)
    //      hashes visible against the events-minus-keys oracle ----
    "q238_fs_compact_sql" -> ((s, dir) => {
      val sd = tmpDir("q238_store_")
      val fs = new FeatureStore(s, sd)
      fs.createGroup(FeatureGroup("cmp_fg", "user_id", "ts", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_id", FType.Integral),
        FeatureDef("ts", FType.FTimestamp),
        FeatureDef("event_type", FType.FString),
        FeatureDef("value", FType.Fractional))))
      fs.ingest("cmp_fg", Tables.events(s, dir))
      val doomed = Tables.events(s, dir).select("user_id").distinct()
        .filter(pmod(col("user_id"), lit(7)) === 0)
        .orderBy("user_id").collect().map(_.get(0)).mkString(",")
      s.sql(s"SELECT * FROM feature_store_delete('$sd', 'cmp_fg', '$doomed')")
        .collect(): Unit
      s.sql(s"SELECT * FROM feature_store_compact('$sd', 'cmp_fg')")
        .collect(): Unit
      fs.offline("cmp_fg").select(latestCols.map(col): _*).orderBy("event_id")
    }),

    // ---- q239: the VACUUM maintenance statement — two ingests create a
    //      superseded online snapshot, feature_store_vacuum(keep=1) drops
    //      it; the query returns the LATEST snapshot afterwards, so a
    //      vacuum that dropped (or corrupted) the current version hashes
    //      visible against the q10-shaped latest-per-key oracle ----
    "q239_fs_vacuum_sql" -> ((s, dir) => {
      val sd = tmpDir("q239_store_")
      val fs = new FeatureStore(s, sd)
      fs.createGroup(FeatureGroup("vac_fg", "user_id", "ts", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_id", FType.Integral),
        FeatureDef("ts", FType.FTimestamp),
        FeatureDef("event_type", FType.FString),
        FeatureDef("value", FType.Fractional))))
      val ev = Tables.events(s, dir)
      val cut = lit("2024-01-16").cast(TimestampType)
      fs.ingest("vac_fg", ev.filter(col("ts") < cut))
      fs.ingest("vac_fg", ev.filter(col("ts") >= cut))
      s.sql(s"SELECT * FROM feature_store_vacuum('$sd', 'vac_fg', 1)")
        .collect(): Unit
      fs.online("vac_fg").select(latestCols.map(col): _*).orderBy("user_id")
    }),

    // ---- q240: RENAME COLUMN, era-exact (round 12 — the evolution
    //      story's read contract under the cross-engine gate): history
    //      ingested under 'value' is renamed to 'score' mid-stream, a
    //      second batch ingests under the NEW name, and the offline read
    //      must serve BOTH eras under 'score' — a row resolved to the
    //      wrong era (null where the old column held data, or vice versa)
    //      hashes visible against the straight aliased-projection oracle ----
    "q240_fs_rename" -> ((s, dir) => {
      val sd = tmpDir("q240_store_")
      val fs = new FeatureStore(s, sd)
      fs.createGroup(FeatureGroup("ren_fg", "user_id", "ts", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_id", FType.Integral),
        FeatureDef("ts", FType.FTimestamp),
        FeatureDef("event_type", FType.FString),
        FeatureDef("value", FType.Fractional))))
      val ev = Tables.events(s, dir)
      val cut = lit("2024-01-16").cast(TimestampType)
      fs.ingest("ren_fg", ev.filter(col("ts") < cut))
      fs.renameFeature("ren_fg", "value", "score")
      fs.ingest("ren_fg",
        ev.filter(col("ts") >= cut).withColumnRenamed("value", "score"))
      fs.offline("ren_fg")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("score"))
        .orderBy("event_id")
    }),

    // ---- q241: the WHOLE store lifecycle from SQL STATEMENTS alone
    //      (round 12 capstone — DDL + DML + evolution are all statement
    //      faces now): CREATE the group, MERGE the pre-cut corpus as a
    //      CDC batch, RENAME value→score mid-stream, MERGE the post-cut
    //      batch under the new name; the serving face must equal the
    //      latest-per-key oracle with both eras under 'score' ----
    "q241_fs_sql_lifecycle" -> ((s, dir) => {
      val sd = tmpDir("q241_store_")
      val ev = Tables.events(s, dir)
      val cut = lit("2024-01-16").cast(TimestampType)
      val chA = aux(dir, "q241_chA")
      val chB = aux(dir, "q241_chB")
      ev.filter(col("ts") < cut).withColumn("op", lit("U"))
        .write.mode("overwrite").parquet(chA)
      ev.filter(col("ts") >= cut).withColumnRenamed("value", "score")
        .withColumn("op", lit("U"))
        .write.mode("overwrite").parquet(chB)
      s.sql(s"SELECT * FROM feature_store_create('$sd', 'life_fg', 'user_id', 'ts', " +
        "'user_id:integral,event_id:integral,ts:timestamp," +
        "event_type:string,value:fractional')").collect(): Unit
      s.sql(s"SELECT * FROM feature_store_merge('$sd', 'life_fg', '$chA', 'op', 'event_id')")
        .collect(): Unit
      s.sql(s"SELECT * FROM feature_store_rename_feature('$sd', 'life_fg', 'value', 'score')")
        .collect(): Unit
      s.sql(s"SELECT * FROM feature_store_merge('$sd', 'life_fg', '$chB', 'op', 'event_id')")
        .collect(): Unit
      new FeatureStore(s, sd).online("life_fg")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("score"))
        .orderBy("user_id")
    }),

    // ---- DELETION from the persisted IVFADC index (erasure for ANN
    //      serving): vec_ids ≡ 3 (mod 10) are tombstoned after the base
    //      build; serving anti-joins the tombstones out of the stage-1
    //      codes scan, so deleted vectors never reach the candidate dump —
    //      the oracle re-ranks the dumped candidates, and the ABSENCE gate
    //      (deleted ids, pending vs purged equality, resurrection) lives in
    //      SimilaritySpec under full-probe degeneracy ----
    "q167_ivfadc_delete" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q167_pqindex")
      Similarity.buildIvfadcIndex(emb, "vec_id", "embedding", idx,
        nCells = 16, m = 4, codebookSize = 16, fitMaxIter = 8,
        fitSampleFraction = 0.25)
      Similarity.deleteFromIvfadcIndex(
        emb.filter(pmod(col("vec_id"), lit(10)) === 3), "vec_id", idx, "d1")
      Similarity.ivfadcTopKIndexed(s, idx, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 8, shortlist = 50,
          excludeSelf = true,
          candidateSink = Some(aux(dir, "q167_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- INCREMENTAL fold-in to the persisted IVFADC index
    //      (appendIvfadcIndex — the minhashLshIncremental contract for ANN
    //      serving): odd vec_ids encode FIT-FREE against the frozen
    //      codebooks the even-id base build froze, land in batch=b1
    //      partitions, and the indexed search serves the union ----
    "q158_ivfadc_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q158_pqindex")
      Similarity.buildIvfadcIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nCells = 16, m = 4, codebookSize = 16,
        fitMaxIter = 8, fitSampleFraction = 0.25)
      Similarity.appendIvfadcIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", idx, "b1")
      Similarity.ivfadcTopKIndexed(s, idx, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 8, shortlist = 50,
          excludeSelf = true,
          candidateSink = Some(aux(dir, "q158_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- IVF against the PERSISTED index (the fit-free serving shape;
    //      q18 is the exploration mode that re-fits per call) ----
    "q86_ann_ivf_index" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q86_vecindex")
      Dedup.buildSemanticIndex(emb, "vec_id", "embedding", idx, nClusters = 16)
      Similarity.ivfTopKIndexed(s, idx, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 4, excludeSelf = true,
          candidateSink = Some(aux(dir, "q86_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- text: token counting (ws + BPE-ish) ----
    "q19_text_stats" -> ((s, dir) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        GraftFunctions.tokenCountWs(col("text")).cast("long").as("n_tokens_ws"),
        GraftFunctions.tokenCountBpeish(col("text")).cast("long").as("n_tokens_bpeish"))
        .orderBy("doc_id")
    }),

    // ---- text: language ID (stopword-ratio heuristic + CJK override);
    //      cleaned tokens materialized first — see langTokens ----
    "q20_lang_id" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("__lt", TextAnalysis.langTokens(col("text")))
        .select(col("doc_id"),
          TextAnalysis.langIdFromTokens(col("__lt"), col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // ---- text: quality score ----
    "q21_quality_score" -> ((s, dir) => {
      Tables.documentsFanned(s, dir)
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // ---- text: document fingerprinting (winnowing + whole-doc hash), in the
    //      ENGINE-PORTABLE md5-derived form so the fingerprints are auditable
    //      across systems and the query fully oracle-able (the xxhash64 forms
    //      winnowingHashes/docFingerprint remain the cheap Spark-only path,
    //      spec-covered). Hash array materialized first — no-CSE ----
    "q22_fingerprint" -> ((s, dir) => {
      Tables.documentsFanned(s, dir)
        .withColumn("__lt", lower(col("text")))
        .withColumn("__toks", GraftFunctions.wsTokens(col("__lt")))
        .withColumn("__hs", GraftFunctions.winnowingHashesPortable(col("__lt"), n = 8))
        .select(
          col("doc_id"),
          md5(concat_ws(" ", col("__toks"))).as("doc_hash"),
          size(GraftFunctions.winnowingFromHashes(col("__hs"), w = 4)).cast("long").as("n_winnow"))
        .orderBy("doc_id")
    }),

    // ---- multimodal: batched decode plumbing (STUB codec, real plan shape) ----
    "q23_multimodal_decode" -> ((s, dir) => {
      val assets = Multimodal.syntheticAssets(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.decodeImageFeaturesSynthetic(assets, dim = 16)
        .select("asset_id", "modality", "n_bytes").orderBy("asset_id")
    }),

    // ---- multimodal: frame sampling (explode-shaped) ----
    "q24_frame_sample" -> ((s, dir) => {
      val assets = Multimodal.syntheticAssets(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.sampleFramesSynthetic(assets, everyMs = 10000L)
        .groupBy("asset_id").agg(count(lit(1)).as("n_frames"))
        .orderBy("asset_id")
    }),

    // ---- multimodal: audio segmentation (explode-shaped, per-window
    //      md5-derived pseudo-energy — fully oracled incl. the feature) ----
    "q96_audio_segments" -> ((s, dir) => {
      val assets = Multimodal.syntheticAssets(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.segmentAudioSynthetic(assets, windowMs = 30000L)
        .select("asset_id", "seg_idx", "seg_start_ms", "seg_ms", "energy_ppm")
        .orderBy("asset_id", "seg_idx")
    }),

    // ---- multimodal: resize (STUB scaler, real schema/partition plumbing).
    //      The resized payload bytes are stub-derived so not oracled; what
    //      IS oracled: images get the target dimensions and the stub's
    //      deterministic output length, non-images pass through with their
    //      md5-derived meta and original byte length ----
    "q62_image_resize" -> ((s, dir) => {
      val assets = Multimodal.syntheticAssets(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.resizeImagesSynthetic(assets, width = 64, height = 48)
        .select(col("asset_id"), col("modality"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"),
          length(col("bytes")).cast("long").as("n_bytes"))
        .orderBy("asset_id")
    }),

    // ---- text: Gopher-style repetition filter (dup-line fraction +
    //      top-bigram token coverage; MassiveText A1.1). The bigram mode is
    //      computed distributed (explode → two combinable aggs → narrow
    //      join), never per-row quadratic — see TextAnalysis.repetitionStats ----
    "q63_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionStats(Tables.documentsFanned(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- training-sequence packing: greedy first-fit per content-hash
    //      shard, the fold runs as ONE aggregate HOF inside each shard —
    //      one shuffle, sequential work bounded by shard size (see
    //      SequencePacking). Oracle replays the identical recurrence with a
    //      recursive CTE (one row per shard per step) ----
    "q64_seq_packing" -> ((s, dir) => {
      SequencePacking.packSequences(Tables.documents(s, dir), "doc_id", "text",
          budget = 512L, nShards = 16)
        .orderBy("doc_id")
    }),

    // ---- deterministic domain-mix sampling: per-source keep rates via the
    //      salted content-addressed bucket (map-only codegen predicate, no
    //      RNG — see DomainMix). Report aggregates totals vs kept per source ----
    "q65_domain_mix" -> ((s, dir) => {
      val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25)
      val keep = DomainMix.keepFlag(col("doc_id"), col("source"), rates, defaultRate = 0.1)
      Tables.documents(s, dir)
        .withColumn("__keep", keep)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_total"),
          count(when(col("__keep"), 1)).as("n_kept"),
          min(when(col("__keep"), col("doc_id"))).as("min_kept_id"),
          max(when(col("__keep"), col("doc_id"))).as("max_kept_id"))
        .orderBy("source")
    }),

    // ---- per-domain frequency cap: keep each source's 15 best docs by
    //      quality. Rank runs over narrow (id, domain, rank) tuples only;
    //      survivors come back as a BROADCAST semi join, so text never
    //      shuffles and domain skew hits 16-byte rows (see capPerDomain) ----
    "q66_domain_cap" -> ((s, dir) => {
      DomainMix.capPerDomain(Tables.documents(s, dir), "doc_id", "source",
          TextAnalysis.qualityScore(col("text")), n = 15)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // ---- training-data pipeline capstone: repetition gate + quality floor
    //      + deterministic domain mix, survivors packed into 512-token
    //      sequences — filter → curate → pack, the end-to-end shape a
    //      pretraining data build runs. Quality/mix are map-side predicates;
    //      the repetition gate's keep-ids come back as a semi join; packing
    //      adds its single shard shuffle ----
    "q69_pipeline_e2e" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
      // one narrow verdict frame per text pass: the quality+mix flags reduce
      // a scan to (doc_id) survivors map-side; repetitionStats reduces its
      // scans to (doc_id, n_tokens, keep). Everything after is id+count
      // rows — the text itself never crosses a shuffle and is never
      // re-tokenized for packing
      val rep = TextAnalysis.repetitionStats(docs, "doc_id", "text")
        .filter(col("keep")).select(col("doc_id"), col("n_tokens"))
      val flagged = docs
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.5)
        .filter(DomainMix.keepFlag(col("doc_id"), col("source"),
          Map("src0" -> 0.5, "src1" -> 0.5), defaultRate = 1.0))
        .select(col("doc_id"))
      SequencePacking.packFromCounts(rep.join(flagged, Seq("doc_id")),
          "doc_id", "n_tokens", budget = 512L, nShards = 16)
        .orderBy("doc_id")
    }),

    // ---- per-language adaptive quality floor: a fixed global threshold
    //      over-prunes low-resource languages (their score distribution
    //      sits lower), so the floor is each language's own P25. ONE text
    //      pass reduces to narrow (lang, quality) rows; the per-language
    //      floors (a handful of rows) broadcast back; exact percentile
    //      bit-matches DuckDB quantile_cont ----
    "q71_lang_quality_floor" -> ((s, dir) => {
      // ONE text pass: lang-id + quality reduce to a persisted narrow
      // (lang_pred, quality) frame (the q78 staging contract — Catalyst has
      // no CSE across DataFrame reuse, so unstaged, the floors aggregate and
      // the join side would EACH run the corpus pass; measured ~2× on the
      // CPU-dense scan). Output is per-language rows, so the checkpoint-
      // then-release hygiene is trivial.
      val narrow = Tables.documentsFanned(s, dir)
        .withColumn("__lt", TextAnalysis.langTokens(col("text")))
        .select(
          TextAnalysis.langIdFromTokens(col("__lt"), col("text")).as("lang_pred"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .persist()
      narrow.count(): Unit
      val floors = narrow.groupBy("lang_pred")
        .agg(percentile(col("quality"), lit(0.25)).as("q25"),
          count(lit(1)).as("n_docs"))
      val out = narrow.join(broadcast(floors), Seq("lang_pred"))
        .groupBy("lang_pred", "n_docs", "q25")
        .agg(count(when(col("quality") >= col("q25"), 1)).as("n_kept"))
        .select("lang_pred", "n_docs", "q25", "n_kept")
        .orderBy("lang_pred")
        .localCheckpoint(eager = true)
      narrow.unpersist(false)
      out
    }),

    // ---- M1–M4: train/eval loop. The SPLIT is content-addressed (q143
    //      oracles the exact frames); fit/MSE stay smoke-only — sklearn↔MLlib
    //      RNGs differ, SURVEY §7 ----
    "q25_ml_train" -> ((s, dir) => {
      import s.implicits._
      // training input repartitioned: lineitem ships as one unsplittable row
      // group, and tree building parallelizes over input partitions
      val li = Tables.lineitem(s, dir).filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .repartition(s.sparkContext.defaultParallelism)
      val r = FeatureML.trainRegressor(li, Seq("l_quantity", "l_discount"), "l_extendedprice",
        splitKeyCols = Seq("l_orderkey", "l_linenumber"))
      Seq((r.nTrain, r.nTest, r.mse)).toDF("n_train", "n_test", "mse")
    }),

    // ---- the reference pipeline end-to-end on its own fixture:
    //      CSV ingest → offline store → historicalQuery (P1+P2)
    //      (reference: update_feature_store.py + historical_features.py) ----
    "q26_reference_e2e" -> ((s, dir) => {
      val raw = s.read.option("header", "true")
        .schema("customer_id LONG, purchase_timestamp STRING, purchase_value DOUBLE, loyalty_score DOUBLE")
        .csv(requireFixture(referenceCsv))
        .select(
          col("customer_id"),
          to_timestamp(col("purchase_timestamp"), "yyyy-M-d H:m:s").as("event_time"),
          col("purchase_value").as("latest_purchase_value"),
          col("loyalty_score").as("latest_loyalty_score"))
      val fs = new FeatureStore(s, tmpDir("graft_ref_"))
      val g = FeatureGroup("CustomerTransactions", "customer_id", "event_time", Seq(
        FeatureDef("customer_id", FType.Integral),
        FeatureDef("event_time", FType.FTimestamp),
        FeatureDef("latest_purchase_value", FType.Fractional),
        FeatureDef("latest_loyalty_score", FType.Fractional)))
      fs.createGroup(g)
      fs.ingest("CustomerTransactions", raw)
      fs.historicalQuery("CustomerTransactions",
          Seq("customer_id", "event_time", "latest_purchase_value", "latest_loyalty_score"),
          start = "2022-01-01 00:00:00", end = "2022-08-31 23:59:59")
        .orderBy("event_time", "customer_id", "latest_purchase_value", "latest_loyalty_score")
    }),

    // ---- JSON scalar functions over the props column ----
    "q27_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")
    }),

    // ---- distinct aggregation ----
    "q28_distinct_agg" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // ---- general window functions: lag/lead per key ----
    "q29_window_lag" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          (col("value") - lag("value", 1).over(w)).as("delta"),
          lead("event_id", 1).over(w).as("next_event_id"))
        .orderBy("event_id")
    }),

    // ---- rollup aggregation with grouping id ----
    "q30_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid").cast("long").as("gid"),
          col("sum_qty"), col("n"))
        .orderBy("gid", "l_returnflag", "l_linestatus")
    }),

    // ---- left-semi join: customers with >=1 order in a year ----
    "q31_semi_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "MACHINERY")
      val o = Tables.orders(s, dir).filter(year(col("o_orderdate")) === 1995)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // ---- left-anti join: customers with no 1998 orders (the year filter
    //      keeps the result NON-EMPTY at every sf — every customer in this
    //      corpus has some order, so the unfiltered anti-join verified
    //      nothing: 0 rows vs 0 rows) ----
    "q32_anti_join" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(year(col("o_orderdate")) === 1998)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    // ---- range (interval) join: clicks within the hour before each purchase ----
    "q33_range_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      // range predicate lives in the ON clause so purchases with zero
      // in-window clicks still survive the left join (count = 0)
      p.join(c,
          col("p_user") === col("c_user") &&
            col("c_ts") <= col("p_ts") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
          "left")
        .groupBy("p_id")
        .agg(count(col("c_id")).as("n_clicks_1h"))
        .orderBy("p_id")
    }),

    // ---- streaming tumbling-window aggregation (watermark + window) ----
    "q34_stream_window" -> ((s, dir) => withStreamingConf(s) { s =>
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .select(col("ts"), col("event_type"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val qname = s"q34_out_${System.nanoTime()}"
      val q = stream.writeStream.format("memory").queryName(qname)
        .outputMode("complete").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q34_ckpt_"))
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(col("w.start").as("day_start"), col("event_type"), col("n"))
        .orderBy("day_start", "event_type")
    }),

    // ---- stream-STATIC enrichment: a click stream joined per micro-batch
    //      against a broadcast slowly-changing dimension (latest purchase
    //      value per user, computed batch-side) — the canonical serving-
    //      adjacent streaming enrichment; no state, no watermark needed
    //      (the static side re-broadcasts per batch, so a dim refresh is
    //      picked up at the next trigger at 100 TB too) ----
    "q83_stream_static" -> ((s, dir) => withStreamingConf(s) { s =>
      val dim = LatestPerKey.viaMaxBy(
          Tables.events(s, dir).filter(col("event_type") === "purchase"),
          Seq("user_id"), "ts", Seq("event_id"))
        .select(col("user_id"), col("value").as("last_purchase_value"))
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id"))
        .join(broadcast(dim), Seq("user_id"))
        .groupBy("user_id", "last_purchase_value")
        .agg(count(lit(1)).as("n_clicks"))
      val qname = s"q83_out_${System.nanoTime()}"
      val q = stream.writeStream.format("memory").queryName(qname)
        .outputMode("complete").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q83_ckpt_"))
        .start()
      q.awaitTermination()
      s.table(qname).select("user_id", "last_purchase_value", "n_clicks").orderBy("user_id")
    }),

    // ---- streaming sessionize (custom state): closed sessions emit exactly
    //      once. Under AvailableNow the whole table is ONE micro-batch, so
    //      the in-batch gap-split closes every session EXCEPT each user's
    //      last (still open, no later watermark advance) — which is exactly
    //      what the oracle expresses: batch sessions minus the final one
    //      per user. The watermark delay is set beyond the corpus's time
    //      span so no TIMEOUT closure fires during the drain (whether the
    //      final watermark passes a given session's gap is an engine
    //      scheduling detail — StreamingSpec covers timeout closure
    //      deterministically with controlled batches) ----
    "q84_stream_sessionize" -> ((s, dir) => withStreamingConf(s) { s =>
      import s.implicits._
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .select(col("user_id"), col("ts"),
          col("event_id"), col("event_type"), col("value"))
        .as[KeyedEvent]
      val qname = s"q84_out_${System.nanoTime()}"
      val q = StreamingSessionize.byGap(stream, watermarkDelay = "3650 days", gapSeconds = 1800)
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q84_ckpt_"))
        .start()
      q.awaitTermination()
      s.table(qname)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events").cast("long").as("n_events"))
        .orderBy("user_id", "session_start")
    }),

    // ---- stream-stream interval join: clicks attributed to purchases
    //      within a 1-hour lookback, per user — the streaming sibling of the
    //      q33 batch range join. Both sides carry watermarks so the join
    //      STATE is bounded (an unmatched click is dropped once the
    //      purchase-side watermark passes its interval; at 100 TB this is
    //      the difference between O(window) and O(stream) state). Inner
    //      join → matched pairs append as soon as both sides arrive ----
    "q68_stream_join" -> ((s, dir) => withStreamingConf(s) { s =>
      val src = stageStreamDir(dir, "events")
      def side(tpe: String) = s.readStream.schema(Tables.eventsSchema)
        .parquet(src)
        .filter(col("event_type") === tpe)
      val p = side("purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val c = side("click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
        .select(col("p_id"), col("c_id"))
      val qname = s"q68_out_${System.nanoTime()}"
      val q = joined.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q68_ckpt_"))
        .start()
      q.awaitTermination()
      s.table(qname).orderBy("p_id", "c_id")
    }),

    // ---- stream-stream LEFT OUTER interval join: q68's attribution with
    //      the un-attributed purchases KEPT — the semantics corner inner
    //      joins never exercise: a null-padded row may only emit once the
    //      watermark proves no matching click can still arrive (emitting
    //      earlier would be wrong, never emitting would drop data). Matched
    //      pairs append immediately; unmatched purchases emit when the
    //      global watermark passes their interval. The result claims null
    //      rows only up to (final watermark − 1 s guard): rows AT the
    //      boundary are engine-timing-dependent, rows below it are
    //      watermark-guaranteed — the oracle applies the identical cut ----
    "q95_stream_outer_join" -> ((s, dir) => withStreamingConf(s) { s =>
      val src = stageStreamDir(dir, "events")
      def side(tpe: String) = s.readStream.schema(Tables.eventsSchema)
        .parquet(src)
        .filter(col("event_type") === tpe)
      val p = side("purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 hour")
      val c = side("click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val joined = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
        "leftOuter")
        .select(col("p_id"), col("c_id"), col("p_ts"))
      val qname = s"q95_out_${System.nanoTime()}"
      val q = joined.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q95_ckpt_"))
        .start()
      q.awaitTermination()
      // final global watermark = min(max p_ts, max c_ts) − 1 h; guard 1 s.
      // Both side maxima in ONE scan+aggregate (conditional max), one
      // driver action instead of two
      val mx = Tables.events(s, dir).agg(
        max(when(col("event_type") === "purchase", col("ts"))).as("p_max"),
        max(when(col("event_type") === "click", col("ts"))).as("c_max")).head()
      val wmGuard = java.sql.Timestamp.from(
        Seq(mx.getTimestamp(0), mx.getTimestamp(1))
          .min(Ordering.by((t: java.sql.Timestamp) => t.toInstant))
          .toInstant.minusSeconds(3601))
      s.table(qname)
        .filter(col("c_id").isNotNull || col("p_ts") <= lit(wmGuard))
        .select("p_id", "c_id")
        .orderBy(col("p_id"), col("c_id"))
    }),

    // ---- streaming exact dedup: first-arrival-wins key dedup over the
    //      event stream (ingestion-time dedup — the streaming sibling of
    //      q12). Bounded AvailableNow input → full-state dropDuplicates;
    //      for unbounded streams use dropDuplicatesWithinWatermark so state
    //      expires with the watermark (same TTL reasoning as
    //      StreamingLatest.latestPerKeyWithTTL). Output is the key SET,
    //      which is deterministic and exactly batch DISTINCT ----
    "q57_stream_dedup" -> ((s, dir) => withStreamingConf(s) { s =>
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      val qname = s"q57_out_${System.nanoTime()}"
      val q = stream.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q57_ckpt_"))
        .start()
      q.awaitTermination()
      s.table(qname).select("user_id", "event_type").orderBy("user_id", "event_type")
    }),

    // ---- exact percentiles (interpolated) per group ----
    "q35_percentile" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          percentile(col("l_quantity"), lit(0.25)).as("q25"),
          percentile(col("l_quantity"), lit(0.5)).as("q50"),
          percentile(col("l_quantity"), lit(0.75)).as("q75"))
        .orderBy("l_returnflag")
    }),

    // ---- TPC-H Q3-shaped: 3-way join, filters, top-10 by revenue ----
    "q36_tpch_q3" -> ((s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(col("o_orderdate") < lit("1998-01-01").cast(TimestampType))
      val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > lit("1998-01-01").cast(TimestampType))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
          .as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // ---- TPC-H Q5-shaped: 6-way join (2 facts + 4 dims), region filter,
    //      revenue per nation. Dims broadcast (nation/region/supplier);
    //      customer and the fact-fact join shuffle on their keys — the
    //      join-graph shape AQE + Catalyst must get right at 100 TB ----
    "q73_tpch_q5" -> ((s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val sup = Tables.supplier(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("o_orderdate") < lit("1997-01-01").cast(TimestampType))
      val l = Tables.lineitem(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup),
          l("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
          .as("revenue_cents"))
        .orderBy(col("revenue_cents").desc, col("n_name").asc)
    }),

    // ---- TPC-H Q18 shape: large-volume customers — aggregate a fact,
    //      HAVING-filter the aggregate, semi-join the survivors back to
    //      the enriched join. The having-set is tiny → broadcast semi;
    //      the big lineitem aggregation combines map-side ----
    "q85_tpch_q18" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val big = l.groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
        .filter(col("sum_qty") > 300)
        .select(col("l_orderkey"), col("sum_qty"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(broadcast(big), o("o_orderkey") === big("l_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          col("sum_qty"))
        .orderBy(col("price_cents").desc, col("o_orderkey").asc)
    }),

    // ---- CUBE aggregation with grouping id (generalizes q30's rollup) ----
    "q74_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"), col("gid").cast("long").as("gid"),
          col("sum_qty"), col("n"))
        .orderBy("gid", "l_returnflag", "l_linestatus")
    }),

    // ---- time-series resample + forward fill: every user's purchase
    //      series regularized onto an hourly grid, each slot carrying the
    //      last observation at-or-before it — the classic feature-store
    //      "materialize features on a training clock" op, composed from
    //      sequence/explode + the existing as-of join (grid rows are
    //      narrow; the as-of is the single-shuffle union-then-window) ----
    "q75_resample_ffill" -> ((s, dir) => {
      val p = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val grid = p.groupBy("user_id")
        .agg(date_trunc("hour", min(col("ts"))).as("t0"),
          date_trunc("hour", max(col("ts"))).as("t1"))
        .select(col("user_id"),
          explode(sequence(col("t0"), col("t1"), expr("INTERVAL 1 HOUR"))).as("hour_ts"))
      AsOfJoin.backward(grid, p,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "hour_ts", rightTime = "ts",
        rightTiebreak = "event_id", rightValueCols = Seq("value"))
        .select(col("user_id"), col("hour_ts"),
          col("asof_value").as("last_value"), col("asof_ts"))
        .orderBy("user_id", "hour_ts")
    }),

    // ---- TF-IDF keyword salience: per-doc top-5 terms (corpus triage;
    //      raw-ratio idf for cross-engine bit-reproducibility — see
    //      TextAnalysis.tfIdfTopK scaladoc) ----
    "q76_tfidf" -> ((s, dir) => {
      TextAnalysis.tfIdfTopK(Tables.documents(s, dir), "doc_id", "text", k = 5)
        .orderBy("doc_id", "rank")
    }),

    // ---- duplicate-span detection: exact repeated 8-token windows across
    //      docs (Lee et al. 2022 re-shaped: hashed sliding windows + one
    //      aggregation shuffle instead of a single-machine suffix array) ----
    "q77_dup_spans" -> ((s, dir) => {
      Dedup.duplicateSpans(Tables.documentsFanned(s, dir), "doc_id", "text",
        k = 8, minDocs = 2)
        .orderBy(col("n_occ").desc, col("span_hash").asc)
    }),

    // ---- char-bigram LM-coverage quality proxy (the CCNet-perplexity
    //      seam: swap the top-N table for scored LM n-grams) ----
    "q78_bigram_coverage" -> ((s, dir) => {
      // fanned loader: the char explode is per-row CPU-dense (see Tables)
      TextAnalysis.charBigramCoverage(Tables.documentsFanned(s, dir), "doc_id", "text",
        topN = 500)
        .orderBy("doc_id")
    }),

    // ---- skew-guarded salted join: identical results to the plain join
    //      (the oracle IS the unsalted SQL), with the hot key spread over
    //      (key, salt) reduce tasks — the manual remedy for probe-side
    //      skew AQE cannot split (see SaltedJoin scaladoc) ----
    "q79_salted_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir).select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      SaltedJoin.inner(o, c, Seq("o_custkey"), saltBuckets = 8)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .orderBy("c_nationkey")
    }),

    // ---- GROUPING SETS: the general form q30/q74's rollup/cube special-case ----
    "q80_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v80")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM lineitem_v80
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
          |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)
    }),

    // ---- sessionized funnel: view → click-after-view → purchase-after-
    //      click within a session. ONE branch, no self-joins: the three
    //      stage timestamps are chained conditional window-mins over the
    //      same (user, session) partitioning (they share one exchange),
    //      then a per-session rollup and a global count ----
    "q81_funnel" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Sessionize.byGap(Tables.events(s, dir), "user_id", "ts", "event_id", 1800)
        .select(col("user_id"), col("session_id"), col("event_type"), col("ts"))
      val w = Window.partitionBy("user_id", "session_id")
      val staged = e
        .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2", min(when(col("event_type") === "click" && col("ts") > col("t1"),
          col("ts"))).over(w))
        .withColumn("t3", min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
      staged.groupBy("user_id", "session_id")
        .agg(min("t1").as("t1"), min("t2").as("t2"), min("t3").as("t3"))
        .agg(count(lit(1)).as("n_sessions"),
          count(col("t1")).as("n_view"),
          count(col("t2")).as("n_click_after_view"),
          count(col("t3")).as("n_full_funnel"))
    }),

    // ---- z-order clustering value (Delta OPTIMIZE ZORDER semantic as a
    //      Column): Morton interleave of (user_id, value_cents); locality
    //      under range partitioning is spec-asserted, the VALUE is oracled ----
    "q82_zorder" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          GraftFunctions.zOrder2(col("user_id"),
            round(col("value") * 100).cast("long"), bits = 16).as("zv"))
        .orderBy("event_id")
    }),

    // ---- 3-column Morton interleave (zOrderN — real OPTIMIZE ZORDER BY
    //      takes N columns; bit i of column j → position 3i+j, 48 bits) ----
    "q157_zorder3" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          GraftFunctions.zOrderN(Seq(col("user_id"),
            round(col("value") * 100).cast("long"),
            unix_timestamp(col("ts"))), bits = 16).as("zv"))
        .orderBy("event_id")
    }),

    // ---- K3: CSV sink + source roundtrip (quoted, explicit schema) ----
    "q37_csv_roundtrip" -> ((s, dir) => {
      val out = tmpDir("q37_csv_")
      val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
      Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true").option("timestampFormat", tsFmt)
        .csv(out)
      s.read
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
        .option("header", "true").option("timestampFormat", tsFmt)
        .csv(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_cents"),
          max(col("ts")).as("max_ts"))
        .orderBy("event_type")
    }),

    // ---- pivot (wide conditional aggregation) ----
    "q38_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = Tables.events(s, dir)
        .groupBy("user_id").pivot("event_type", types).count()
      pivoted.select(col("user_id") +:
          types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("user_id")
    }),

    // ---- UNPIVOT (melt): the wide→long inverse of q38 — a feature MATRIX
    //      back to (entity, feature, value) rows. Verified as the
    //      round-trip: pivot → unpivot → non-zero rows must equal the
    //      direct per-(user, type) aggregation ----
    "q97_unpivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      Tables.events(s, dir)
        .groupBy("user_id").pivot("event_type", types).count()
        .unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
        .filter(col("n").isNotNull && col("n") > 0)
        .orderBy("user_id", "event_type")
    }),

    // ---- HLL++: approximate distinct. The estimate itself is
    //      engine-specific, so the oracled result carries the EXACT count
    //      plus `approx_ok` — the 3σ bound claim as a boolean. DuckDB
    //      asserts TRUE, so an out-of-bound estimate flips the row red in
    //      CORRECTNESS (plus the rsd assertion in QuerySuiteSpec) ----
    "q39_approx_distinct" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("__approx"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("__approx") - col("exact_users")) <=
            greatest(lit(1.0), col("exact_users") * 0.06)).as("approx_ok"))
        .orderBy("event_type")
    }),

    // ---- exact connected components (multi-hop, oracle-able): CHAIN edges
    //      link consecutive doc_ids within a (source, id-bucket) group, so a
    //      component is discovered only by propagating labels hop-by-hop, yet
    //      equals the SQL-expressible min-over-group. Bucket width 500 makes
    //      every (source, bucket) group hold ~25 docs at each shipped sf —
    //      chains of ~25 links, non-empty everywhere (the round-3 /10 bucket
    //      produced ZERO edges at every sf: a vacuous 0-row-vs-0-row oracle).
    //      Long chains are exactly what the pointer-jumping CC converges on
    //      in O(log d) rounds ----
    "q40_dedup_cc" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source", "bucket").orderBy("doc_id")
      val pairs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), (col("doc_id") / 500).cast("long").as("bucket"))
        .withColumn("prev_id", lag("doc_id", 1).over(w))
        .filter(col("prev_id").isNotNull)
        .select(col("prev_id").as("id_a"), col("doc_id").as("id_b"))
      Dedup.connectedComponents(pairs)
        .select(col("node"), col("component")).orderBy("node")
    }),

    // ---- A1 skew-guarded: salted two-stage argmax (same result as q01) ----
    "q41_latest_salted" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      LatestPerKey.viaMaxBySalted(e, Seq("user_id"), "ts", Seq("event_id"))
        .select(latestCols.map(col): _*).orderBy("user_id")
    }),

    // ---- built-in session_window (same gap semantics as q05's Sessionize;
    //      unlike the window+cumsum form this one also runs under Structured
    //      Streaming with state merge). Boundary note: session_window starts
    //      a new session at diff == gap while Sessionize.byGap keeps it —
    //      indistinguishable on this corpus (no exact-gap pairs at any sf,
    //      checked), flagged here for future corpora ----
    "q42_session_window" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("session_start"), max("ts").as("session_end"))
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    }),

    // ---- mergeable HLL sketches (Datasketches): build per-group sketches,
    //      union across groups — the scale path for distinct counting over
    //      re-aggregable slices. Same oracle scheme as q39: exact counts are
    //      oracled outright; each estimate (per-group AND the merged union)
    //      is oracled as its 3σ bound claim `approx_ok` ----
    "q43_hll_sketch" -> ((s, dir) => {
      def ok(approx: Column, exact: Column): Column =
        (abs(approx - exact) <= greatest(lit(1.0), exact * 0.06)).as("approx_ok")
      val e = Tables.events(s, dir)
      val perType = e.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sketch"),
          countDistinct(col("user_id")).as("exact_users"))
      perType.select(
          col("event_type"), col("exact_users"),
          ok(hll_sketch_estimate(col("sketch")), col("exact_users")))
        .unionByName(
          perType.agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("__approx"))
            // single-row × single-row join (broadcast) attaching the exact count
            .join(e.agg(countDistinct(col("user_id")).as("exact_users")), lit(true))
            .select(lit("__all__").as("event_type"), col("exact_users"),
              ok(col("__approx"), col("exact_users"))))
        .orderBy("event_type")
    }),

    // ---- J2 full form through the store: point-in-time training-set
    //      construction (purchases enriched with the latest prior view) ----
    "q44_point_in_time" -> ((s, dir) => {
      val fs = new FeatureStore(s, tmpDir("graft_pit_"))
      val g = FeatureGroup("views_fg", "user_id", "ts", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_id", FType.Integral),
        FeatureDef("ts", FType.FTimestamp),
        FeatureDef("value", FType.Fractional)))
      fs.createGroup(g)
      fs.ingest("views_fg", Tables.events(s, dir).filter(col("event_type") === "view"))
      val entities = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("label_ts"))
      fs.pointInTime("views_fg", entities, "label_ts", featureCols = Seq("event_id", "value"))
        .select("p_id", "user_id", "label_ts", "asof_event_id", "asof_value", "asof_ts")
        .orderBy("p_id")
    }),

    // ---- J2 multi-group: one entity frame enriched from TWO feature groups
    //      in a single pointInTimeMulti call (views + clicks as-of each
    //      purchase) — the canonical training-set construction ----
    "q59_pit_multi" -> ((s, dir) => {
      val fs = new FeatureStore(s, tmpDir("graft_pitm_"))
      def mkGroup(name: String, tpe: String): Unit = {
        fs.createGroup(FeatureGroup(name, "user_id", "ts", Seq(
          FeatureDef("user_id", FType.Integral),
          FeatureDef("event_id", FType.Integral),
          FeatureDef("ts", FType.FTimestamp),
          FeatureDef("value", FType.Fractional))))
        fs.ingest(name, Tables.events(s, dir).filter(col("event_type") === tpe))
      }
      mkGroup("views_fg", "view")
      mkGroup("clicks_fg", "click")
      val entities = Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("label_ts"))
      fs.pointInTimeMulti(
          Seq("views_fg" -> Seq("event_id", "value"), "clicks_fg" -> Seq("event_id", "value")),
          entities, "label_ts")
        .select("p_id", "user_id", "label_ts",
          "views_fg_asof_event_id", "views_fg_asof_value",
          "clicks_fg_asof_event_id", "clicks_fg_asof_value")
        .orderBy("p_id")
    }),

    // ---- J2 hot-key form: bucketed as-of join under the oracle. Same
    //      semantics as q04 (oracle SQL is shared verbatim); the bucketed
    //      plan replaces the single per-key window with per-bucket argmax +
    //      a tiny carry-in window over bucket aggregates, so one mega-hot
    //      key can never pin an executor (SURVEY §2.6 scale note) ----
    "q60_asof_bucketed" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts", "value")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      AsOfJoin.backwardBucketed(views, purchases,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts", rightTime = "ts",
        rightTiebreak = "event_id",
        rightValueCols = Seq("event_id", "value"),
        bucketSeconds = 86400L)
        .select("event_id", "user_id", "ts", "value", "asof_event_id", "asof_value", "asof_ts")
        .orderBy("event_id")
    }),

    // ---- bucketed co-located join: orders⋈customer with ZERO exchange on
    //      the join (both sides written bucket-by-custkey once; the MERGE
    //      hint keeps the bucket-local sort-merge path instead of a
    //      broadcast so the layout is actually exercised). 8 buckets fits
    //      the test corpus; at 100 TB the bucket count scales with the
    //      cluster and the write-once shuffle amortizes across every later
    //      query on the key. Plan gate: BucketingSpec asserts no Exchange ----
    "q61_bucketed_join" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      Bucketing.writeBucketed(orders, "g61_orders", buckets = 8,
        keys = Seq("custkey"), sortKeys = Seq("custkey"))
      Bucketing.writeBucketed(cust, "g61_customer", buckets = 8,
        keys = Seq("custkey"), sortKeys = Seq("custkey"))
      Bucketing.colocatedJoin(s, "g61_orders", "g61_customer", Seq("custkey"),
          forceSortMerge = true)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy("c_mktsegment")
    }),

    // ---- text cleaning: PII scrub + whitespace normalization ----
    "q45_text_clean" -> ((s, dir) => {
      Tables.documentsFanned(s, dir)
        .select(col("doc_id"),
          GraftFunctions.normalizeWs(GraftFunctions.scrubPii(col("text"))).as("cleaned"))
        .orderBy("doc_id")
    }),

    // ---- ANN: LSH-bucketed top-k (training-free scale path; recall asserted
    //      vs brute force in SimilaritySpec). Bucket-collision candidates
    //      dumped; the oracle re-scores and re-ranks them exactly ----
    "q47_ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, bits = 8, tables = 4, excludeSelf = true,
          candidateSink = Some(aux(dir, "q47_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- vocabulary build: corpus-wide token frequencies, top 100 ----
    "q46_vocab" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(GraftFunctions.wsTokens(lower(col("text")))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(100)
    }),

    // ---- SQL-text entry path: the same engine surface through spark.sql
    //      (the reference's queries are SQL strings, historical_features.py:28-32) ----
    "q48_sql_text" -> ((s, dir) => {
      // view names suffixed: Verify runs queries concurrently on one session
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v48")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v48")
      s.sql(
        """SELECT o_orderpriority,
          |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
          |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
          |FROM orders_v48 JOIN lineitem_v48 ON l_orderkey = o_orderkey
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // ---- q149's bounded-state group sample driven ENTIRELY from SQL text
    //      through the registered bottom_k UDAF (§2.11 — proves the SQL
    //      surface under the cross-engine gate, not just the SQL ≡ Column
    //      spec). Same oracle as q149 by construction ----
    "q153_group_sample_sql" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s) // idempotent re-registration
      Tables.events(s, dir).createOrReplaceTempView("events_v153")
      s.sql(
        """SELECT event_type, CAST(sv AS BIGINT) AS event_id FROM (
          |  SELECT event_type, explode(sample) AS sv FROM (
          |    SELECT event_type,
          |           bottom_k(md5(CAST(event_id AS STRING)),
          |                    CAST(event_id AS STRING), 5) AS sample
          |    FROM events_v153 GROUP BY event_type))
          |ORDER BY event_type, event_id""".stripMargin)
    }),

    // ---- q157's interleave derived entirely from SQL TEXT (zorder_n —
    //      the N-column §2.11 surface itself under the cross-engine gate;
    //      one oracle serves both forms) ----
    "q162_zorder3_sql" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s) // idempotent re-registration
      Tables.events(s, dir).createOrReplaceTempView("events_v162")
      s.sql(
        """SELECT event_id,
          |       zorder_n(user_id, CAST(round(value * 100) AS BIGINT),
          |                unix_timestamp(ts), 16) AS zv
          |FROM events_v162 ORDER BY event_id""".stripMargin)
    }),

    // ---- feature DRIFT: Population Stability Index between the even- and
    //      odd-user event populations (DataQuality.psiDrift — fixed-width
    //      buckets, Laplace smoothing, dense bucket spine; the monitoring
    //      gate a serving pipeline alerts on) ----
    "q163_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.operators.DataQuality.psiDrift(
          ev.filter(pmod(col("user_id"), lit(2)) === 0),
          ev.filter(pmod(col("user_id"), lit(2)) === 1),
          "value", lo = 0.0, hi = 500.0, nBuckets = 10)
        .select(col("bucket"), col("n_base"), col("n_cur"),
          round(col("term"), 6).as("term"))
        .orderBy("bucket")
    }),

    // ---- STREAMING feature-drift monitoring: the current distribution
    //      arrives as a stream; each micro-batch folds its ≤nBuckets-row
    //      bucket histogram into the persisted counts dir, and PSI vs the
    //      FROZEN baseline histogram is derived from the accumulated
    //      counts. Counts are linear, so this equals q163's one-shot PSI
    //      bit for bit — the shared oracle IS the mergeability proof ----
    "q166_stream_psi" -> ((s, dir) => withStreamingConf(s) { s =>
      val ev = Tables.events(s, dir)
      val src = tmpDir("q166_src_")
      ev.filter(pmod(col("user_id"), lit(2)) === 1).select("value")
        .repartition(4).write.mode("overwrite").parquet(src)
      val counts = tmpDir("q166_counts_")
      val stream = s.readStream.schema("value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = graft.streaming.StreamingDrift.start(stream, "value",
        lo = 0.0, hi = 500.0, nBuckets = 10, counts, tmpDir("q166_ckpt_"))
      q.awaitTermination()
      val baseline = graft.operators.DataQuality.bucketCounts(
        ev.filter(pmod(col("user_id"), lit(2)) === 0),
        "value", lo = 0.0, hi = 500.0, nBuckets = 10, "n_base")
      graft.streaming.StreamingDrift.psiVsBaseline(s, counts, baseline, 10)
        .select(col("bucket"), col("n_base"), col("n_cur"),
          round(col("term"), 6).as("term"))
        .orderBy("bucket")
    }),

    // ---- REPRODUCIBLE training order: content-addressed global shuffle +
    //      shard assignment (what a data loader consumes) — shard =
    //      md5-bucket of the key, position = rank by md5 within the shard.
    //      Any engine re-derives the exact order forever; growing the
    //      corpus never reorders existing (shard, pos<n) prefixes the way a
    //      positional randomSplit/orderBy(rand) would ----
    "q164_corpus_order" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          GraftFunctions.hashSplitBucket(col("doc_id"), 8).as("shard"))
        .withColumn("pos", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).cast("long"))
        .orderBy("shard", "pos")
    }),

    // ---- perceptual image near-dup: REAL PNG decode → 63-bit dHash →
    //      SIGNATURE-collapsed banded discovery (hammingNearDupMarks: the
    //      duplicate-heavy shape — candidate cost bounded by signature
    //      DIVERSITY, never corpus size; a 1000-replica scene cluster is
    //      one signature group, not 500k expanded pairs). The scene
    //      fixture plants brightness-shifted replicas; dHash is a gradient
    //      sign, so replicas land within small hamming while distinct
    //      scenes stay far. FULLY oracled — pixels are closed-form and the
    //      sampling grid is integer algebra, so DuckDB re-derives every
    //      hash bit, the sig groups, the bands, the cap, the neighbor-min
    //      rule, and the marks — stronger than q14's dump contract ----
    "q165_image_phash" -> ((s, dir) => {
      val assets = Multimodal.scenePngAssets(Tables.documents(s, dir), "doc_id")
      // hash frame checkpointed EAGERLY: it feeds the group build and the
      // member-marks join — without the cut each consumer re-runs the
      // whole decode (measured 2× the sf1 wall). (id, long, bool) — tiny
      val hashes = Multimodal.dHash63(assets).localCheckpoint(true)
      Dedup.hammingNearDupMarks(
          hashes.filter(col("decode_ok"))
            .select(col("asset_id").as("doc_id"), col("dhash").as("sh")),
          bands = 4, maxHamming = 3, maxBucket = 1000)
        .select(col("doc_id").as("asset_id"), col("sh").as("dhash"),
          col("is_duplicate"))
        .orderBy("asset_id")
    }),

    // ---- VOICED-SEGMENT extraction (the VAD cut): 25 ms windows from the
    //      REAL WAV decode; consecutive active windows merge into maximal
    //      voiced regions via gaps-and-islands. Exact integer algebra end
    //      to end (closed-form PCM → window sums of squares → integer
    //      threshold → island arithmetic), fully oracled ----
    "q171_vad_segments" -> ((s, dir) => {
      Multimodal.vadSegments(
          Multimodal.segmentAudioReal(
            Multimodal.wavAssets(
              Tables.customer(s, dir).filter(pmod(col("c_custkey"), lit(3)) === 1),
              "c_custkey"), windowMs = 25L),
          thresholdMeanSq = 334000L)
        .orderBy("asset_id", "start_idx")
    }),

    // ---- RARE-BIGRAM novelty: word-level LM-style curation signal — the
    //      corpus's own bigram counts as the "model" (CCNet's perplexity
    //      filter reduced to oracle-replayable integer algebra; tokens
    //      shuffle as portable 60-bit ids, never strings). rareMax=2 so a
    //      planted near-dup pair doesn't de-rare its own bigrams ----
    "q172_bigram_novelty" -> ((s, dir) => {
      TextAnalysis.wordBigramNovelty(Tables.documents(s, dir), "doc_id", "text",
        rareMax = 2L).orderBy("doc_id")
    }),

    // ---- QUALITY-AWARE canonicalization: minhash pairs → connected
    //      components → keep the BEST copy per duplicate cluster (max
    //      quality score, ties → min id). Candidates dumped; the oracle
    //      re-verifies jaccard, rebuilds components via transitive closure,
    //      replays the quality score and the argmax ----
    "q173_dup_canonical" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5,
        candidateSink = Some(aux(dir, "q173_candidates")))
      Dedup.canonicalizeClusters(docs, "doc_id", pairs,
          TextAnalysis.qualityScore(col("text")))
        .orderBy("doc_id")
    }),

    // ---- BM25 retrieval: top-10 docs for a fixed query-term set — tf from
    //      the corpus, raw-ratio idf (the tfIdf bit-reproducibility rule:
    //      no ln), length normalization, contributions summed in fixed
    //      expression order. Fully oracled ----
    "q174_bm25_topk" -> ((s, dir) => {
      TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        queryTerms = Seq("spark", "window", "hash"), k = 10)
    }),

    // ---- CONTAMINATION RATIO: per test doc, the fraction of its distinct
    //      8-gram surface present anywhere in the train split (the audit
    //      number next to q56's pair-level leak detection; same
    //      hash-split buckets). Inverted-index probe, no pair expansion ----
    "q175_contamination_ratio" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      Dedup.contaminationRatio(
          docs.filter(col("bucket") < 80),
          docs.filter(col("bucket") >= 90), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // ---- PERSISTED BM25 index + fit-free multi-query serving (the lexical
    //      face of the ANN serving family): postings bucket-partitioned by
    //      term hash with denormalized doc lengths, df/stats partials; a
    //      4-query batch is served with a statically bucket-pruned scan and
    //      an ordered contribution fold. FULLY oracled — DuckDB rebuilds the
    //      same statistics from the raw corpus and replays the fold with
    //      list_sort + list_reduce (identical literals and fold order) ----
    "q176_bm25_serve" -> ((s, dir) => {
      import s.implicits._
      val idx = aux(dir, "q176_bm25index")
      LexicalRetrieval.buildBm25Index(Tables.documents(s, dir), "doc_id", "text", idx)
      val queries = Seq(
        (1L, Seq("spark", "window")),
        (2L, Seq("hash", "join", "scan")),
        (3L, Seq("dup", "merge")),
        (4L, Seq("vector", "stream", "filter", "batch"))
      ).toDF("query_id", "terms")
      LexicalRetrieval.bm25TopKIndexed(s, idx, queries, k = 10)
        .orderBy("query_id", "rank")
    }),

    // ---- INCREMENTAL BM25 index: even doc_ids build the base, odd doc_ids
    //      fold in fit-free as a day-2 batch (df and corpus constants are
    //      additive partials under the new-docs-only contract), the index
    //      compacts under the atomic CURRENT swap, and serving equals the
    //      full-corpus build bit-for-bit — which is exactly what the oracle
    //      checks: the SQL knows nothing about batches ----
    "q177_bm25_append" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val idx = aux(dir, "q177_bm25index")
      LexicalRetrieval.buildBm25Index(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", idx)
      LexicalRetrieval.appendBm25Index(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", idx, "day2")
      LexicalRetrieval.compactBm25Index(s, idx)
      val queries = Seq(
        (1L, Seq("customer", "order")),
        (2L, Seq("dup", "slow")),
        (3L, Seq("query", "table", "column"))
      ).toDF("query_id", "terms")
      LexicalRetrieval.bm25TopKIndexed(s, idx, queries, k = 10)
        .orderBy("query_id", "rank")
    }),

    // ---- BM25 serving with the STOP-TERM df cap (WAND/MaxScore-lite): a
    //      query term present in > 78% of docs contributes ~nothing to BM25
    //      but floods the exchange with a corpus-sized posting list; the
    //      exact integer rule df*1e6 <= ppm*n_docs cuts it on the tiny df
    //      frame before its postings join. The cap lands mid-vocabulary
    //      here (scan/merge out, spark at the boundary in) ----
    "q190_bm25_df_capped" -> ((s, dir) => {
      import s.implicits._
      val idx = aux(dir, "q190_bm25index")
      LexicalRetrieval.buildBm25Index(Tables.documents(s, dir), "doc_id", "text", idx)
      val queries = Seq(
        (1L, Seq("dup", "scan")),
        (2L, Seq("spark", "merge", "slow"))
      ).toDF("query_id", "terms")
      LexicalRetrieval.bm25TopKIndexed(s, idx, queries, k = 10,
          maxDfPpm = 780000L)
        .orderBy("query_id", "rank")
    }),

    // ---- EXACT PHRASE search over positional postings: the query class
    //      bag-of-words BM25 cannot answer. Term i's positions shift by -i;
    //      a common shifted position is a phrase start; the m-way doc join
    //      is bounded by the rarest term's df. FULLY oracled — the oracle
    //      replays the positional intersection as a (doc, start) join ----
    "q191_phrase_search" -> ((s, dir) => {
      val idx = aux(dir, "q191_bm25index")
      LexicalRetrieval.buildBm25Index(Tables.documents(s, dir), "doc_id", "text", idx)
      LexicalRetrieval.phraseTopK(s, idx, Seq("window", "join"), k = 15)
        .orderBy("rank")
    }),

    // ---- WATCHLIST phrase scan: every phrase of a watchlist against every
    //      doc in ONE tokenize pass, no index — the content-compliance
    //      primitive. The watchlist unrolls to broadcast (phrase, idx,
    //      term) rows; a start where all m indices appear is a match ----
    "q195_phrase_watchlist" -> ((s, dir) => {
      LexicalRetrieval.phraseScan(Tables.documents(s, dir), "doc_id", "text",
          Seq(Seq("window", "join"), Seq("order", "fast"), Seq("dup"),
            Seq("big", "data", "slow")))
        .orderBy("doc_id", "phrase_id")
    }),

    // ---- STREAMING watchlist alerts (StreamingPhraseAlert): the same scan
    //      per document micro-batch, hits in batch= partitions ----
    "q196_stream_phrase_alert" -> ((s, dir) => withStreamingConf(s) { s =>
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .parquet(stageStreamDir(dir, "documents"))
        .filter(pmod(col("doc_id"), lit(2)) === 1)
      val alerts = aux(dir, "q196_alerts")
      val q = StreamingPhraseAlert.start(stream, "doc_id", "text",
        Seq(Seq("window", "join"), Seq("dup")), alerts, tmpDir("q196_ckpt_"))
      q.awaitTermination()
      s.read.parquet(alerts).select("doc_id", "phrase_id", "n_phrase")
        .orderBy("doc_id", "phrase_id")
    }),

    // ---- LM PERPLEXITY (CCNet, Wenzek '20): train a Laplace-smoothed
    //      token-bigram LM on the trusted split, score the candidate split
    //      by per-token log-perplexity. REAL log-space scores, FULLY
    //      oracled: every ln is PortableMath.lnPosLong's fixed IEEE tree
    //      (bit-identical in DuckDB — the q78 scaladoc's "no transcendental"
    //      seam closed), and per-doc sums fold in token-position order ----
    "q197_lm_perplexity" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      LmPerplexity.perplexity(
        docs.filter(col("bucket") < 80),
        docs.filter(col("bucket") >= 90), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- PERSISTED LM + FIT-FREE scoring: even train doc_ids build the
    //      base, odd fold in as a day-2 batch (every model table is an
    //      additive count partial), the index compacts under the atomic
    //      CURRENT swap, and serving equals whole-corpus training
    //      bit-for-bit — the oracle knows nothing about batches ----
    "q198_lm_ppl_serve" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      val train = docs.filter(col("bucket") < 80)
      val idx = aux(dir, "q198_lmindex")
      LmPerplexity.buildLmIndex(
        train.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", idx)
      LmPerplexity.appendLmIndex(
        train.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", idx,
        "day2")
      LmPerplexity.compactLmIndex(s, idx)
      LmPerplexity.perplexityIndexed(s, idx,
          docs.filter(col("bucket") >= 90), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- STREAMING perplexity ADMISSION GATE: candidate docs stream
    //      through the frozen persisted LM; only docs clearing the
    //      threshold are admitted (zero-bigram docs rejected —
    //      unassessable). The oracle replays scoring + filter over the
    //      whole streamed slice — it knows nothing about micro-batches ----
    "q199_stream_ppl_gate" -> ((s, dir) => withStreamingConf(s) { s =>
      val docs = Tables.documents(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      val idx = aux(dir, "q199_lmindex")
      LmPerplexity.buildLmIndex(
        docs.filter(col("bucket") < 80), "doc_id", "text", idx)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .parquet(stageStreamDir(dir, "documents"))
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
        .filter(col("bucket") >= 90).drop("bucket")
      val kept = aux(dir, "q199_kept")
      val q = StreamingPerplexityGate.start(stream, "doc_id", "text", idx,
        kept, tmpDir("q199_ckpt_"), maxLogPpl = QppGateThreshold)
      q.awaitTermination()
      // explicit schema: a gate may legitimately admit ZERO docs (the
      // fixed threshold against a shifted corpus — sf10's 100× vocabulary
      // raises every smoothed logppl), and an empty sink must read as an
      // empty frame, not a schema-inference error (the gate's documented
      // read contract)
      s.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, " +
          "n_chars LONG, batch STRING")
        .parquet(kept).select("doc_id", "lang", "source").orderBy("doc_id")
    }),

    // ---- CCNet HEAD/MIDDLE/TAIL: the whole corpus ranked by perplexity
    //      under the trusted-slice LM and cut into terciles — the bucket
    //      rule CCNet selects training data by. Rank = distributed exact
    //      prefix count (q184's range-repartition machinery, never one
    //      global window task); bucket = exact integer algebra ----
    "q200_ppl_terciles" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      LmPerplexity.perplexityTerciles(
        docs.filter(col("bucket") < 80), docs.drop("bucket"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- CROSS-DOC BOILERPLATE LINE REMOVAL (MassiveText/CCNet paragraph
    //      rule): lines whose trimmed content appears in > maxDocs distinct
    //      docs are template chrome — removed everywhere, order preserved,
    //      empty lines never boilerplate. The corpus is deterministically
    //      AUGMENTED in-query with header/footer chrome (the raw synthetic
    //      docs are single-line) — the oracle rebuilds the same augmented
    //      corpus and replays removal + reconstruction byte-for-byte ----
    "q203_boilerplate_lines" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("SUBSCRIBE TO OUR NEWSLETTER\n\n"), col("text"),
            lit("\n(c) 2026 example corp - all rights reserved")))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(lit("SUBSCRIBE TO OUR NEWSLETTER\n"), col("text")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.removeBoilerplateLines(docs, "doc_id", "text", maxDocs = 10)
        .orderBy("doc_id")
    }),

    // ---- DSIR importance resampling (Xie '23): hashed unigram+bigram
    //      multinomials on the target (English exemplar) and raw pool,
    //      each doc scored by its average log importance ratio, top 30%
    //      kept (the paper's deterministic top-k variant). REAL log-space
    //      scores, FULLY oracled: every ln is PortableMath.lnPosLong's
    //      fixed IEEE tree, per-doc sums fold in (pos, kind) order, and
    //      the rank orders bit-identical doubles on both engines ----
    "q204_dsir_select" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
      Dsir.dsirSelect(docs.filter(col("lang") === "en"), docs,
        "doc_id", "text", keepPpm = 300000L)
        .orderBy("doc_id")
    }),

    // ---- PERSISTED DSIR model + FIT-FREE scoring: even pool doc_ids
    //      build the base, odd fold in as a day-2 batch (both count
    //      tables are additive partials), the index compacts under the
    //      atomic CURRENT swap, and serving equals whole-pool fitting
    //      bit-for-bit — the oracle knows nothing about batches ----
    "q205_dsir_serve" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      val idx = aux(dir, "q205_dsirindex")
      Dsir.buildDsirIndex(docs.filter(col("lang") === "en"),
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", idx)
      Dsir.appendDsirIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", idx, "day2")
      Dsir.compactDsirIndex(s, idx)
      Dsir.importanceIndexed(s, idx,
          docs.filter(col("bucket") >= 90), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- STREAMING DSIR admission gate: the cutoff is DERIVED at build
    //      time from the pool's own score distribution (the min logratio
    //      of the top-50% slice — an exact selection, not a summation, so
    //      it replays on any engine), then candidate docs stream through
    //      the frozen persisted model; only docs clearing the frozen
    //      cutoff are admitted, zero-feature docs rejected. The oracle
    //      re-derives the cutoff and replays scoring + threshold over the
    //      whole streamed slice — it knows nothing about micro-batches ----
    "q206_stream_dsir_gate" -> ((s, dir) => withStreamingConf(s) { s =>
      val docs = Tables.documents(s, dir)
      val idx = aux(dir, "q206_dsirindex")
      Dsir.buildDsirIndex(docs.filter(col("lang") === "en"), docs,
        "doc_id", "text", idx)
      val cutoff = Dsir.dsirSelect(docs.filter(col("lang") === "en"), docs,
          "doc_id", "text", keepPpm = 500000L)
        .filter(col("selected")).agg(min(col("logratio")))
        .first().getDouble(0)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .parquet(stageStreamDir(dir, "documents"))
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
        .filter(col("bucket") >= 90).drop("bucket")
      val kept = aux(dir, "q206_kept")
      val q = StreamingDsirGate.start(stream, "doc_id", "text", idx,
        kept, tmpDir("q206_ckpt_"), minLogratio = cutoff)
      q.awaitTermination()
      s.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, " +
          "n_chars LONG, batch STRING")
        .parquet(kept).select("doc_id", "lang", "source").orderBy("doc_id")
    }),

    // ---- UNICODE TEXT NORMALIZATION (ingest preprocessing): the corpus is
    //      deterministically dirtied IDENTICALLY in both engines (CRLF, BEL,
    //      tab runs, a decomposed e+combining-acute, edge whitespace), then
    //      each side runs its own normalizer — line endings, control strip,
    //      whitespace collapse, edge trim, NFC LAST. A match proves the JDK
    //      and utf8proc agree byte-for-byte on the full pipeline ----
    "q207_normalize_text" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"),
          concat(lit("  "), col("text"), lit("\r\n"),
            lit("cafe"), lit("\u0301"), lit("\tx"), lit("\u0007"),
            lit("\t\t y  z "), lit("\r")).as("raw"))
        .select(col("doc_id"),
          graft.functions.NormalizeText(col("raw")).as("text_n"))
        .withColumn("n_chars_n", length(col("text_n")))
        .orderBy("doc_id")
    }),

    // ---- CONTAINMENT (quote-inclusion) join: the asymmetric relation
    //      Jaccard dedup is blind to — a composite doc quoting a whole
    //      short doc has tiny Jaccard but containment 1.0. Composites are
    //      planted deterministically in BOTH engines (doc ⊕ next doc under
    //      id+1e6); the prefix algebra prunes only the contained side
    //      (pigeonhole depends on |B| alone), the container side indexes
    //      every token under the maxPostings skew cap ----
    "q208_containment_join" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select("doc_id", "text")
      val comp = base.as("a")
        .join(base.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .filter(pmod(col("a.doc_id"), lit(37)) === 0)
        .select((col("a.doc_id") + 1000000L).as("doc_id"),
          concat(col("a.text"), lit(" "), col("b.text")).as("text"))
      Dedup.containmentJoin(base.unionByName(comp), "doc_id", "text")
        .orderBy("container_id", "contained_id")
    }),

    // ---- kNN GRAPH over the persisted semantic index: every indexed
    //      vector's top-5 neighbors by exact cosine — map-only multi-probe
    //      (codegen NearestCentroids) + ONE cell equi-join; ranking joins
    //      vectors by id (no broadcast-queries assumption: every doc IS a
    //      query). Oracle reranks the dumped candidates exactly ----
    "q209_knn_graph" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q209_vecindex")
      // targetCell: the k ∝ n regime — fixed cell count makes the per-cell
      // self-join quadratic in corpus growth (measured 104 s at sf1 with
      // 16 cells; cells must track n for the graph step to stay linear)
      Dedup.buildSemanticIndex(emb, "vec_id", "embedding", idx,
        nClusters = 16, targetCell = 100)
      Similarity.knnGraphIndexed(s, idx, k = 5, nProbe = 2,
          candidateSink = Some(aux(dir, "q209_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- HARD-NEGATIVE mining (contrastive training data): per anchor,
    //      the top-5 most-similar docs with a DIFFERENT label — the
    //      informative negatives just across the decision boundary. Label
    //      filter at candidate time (labels ride the assignment rows), so
    //      ranks are contiguous within each anchor's different-label pool ----
    "q210_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q210_vecindex")
      Dedup.buildSemanticIndex(emb, "vec_id", "embedding", idx,
        nClusters = 16, targetCell = 100) // k ∝ n (the q209 rationale)
      Similarity.hardNegativesIndexed(s, idx,
          emb.select(col("vec_id").as("doc_id"), col("label")),
          k = 5, nProbe = 4,
          candidateSink = Some(aux(dir, "q210_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- k-ANONYMITY release gate (generalization ladder, local
    //      recoding): level 0 = (lang, source, length-centile bucket),
    //      level 1 drops the bucket, level 2 drops source; the residual
    //      of each level cascades to the next, survivors of all levels
    //      are suppressed (all-'*', gen_level = 3). Exact integer group
    //      counts — the guarantee replays on any engine ----
    "q211_k_anonymize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Privacy.kAnonymize(docs, "doc_id", k = 5, levels = Seq(
        Seq("q_lang" -> col("lang"), "q_source" -> col("source"),
          "q_len" -> expr("CAST(n_chars div 300 AS STRING)")),
        Seq("q_lang" -> col("lang"), "q_source" -> col("source"),
          "q_len" -> lit("*")),
        Seq("q_lang" -> col("lang"), "q_source" -> lit("*"),
          "q_len" -> lit("*"))))
        .withColumn("gen_level", col("gen_level").cast("long"))
        .orderBy("doc_id")
    }),

    // ---- INCREMENTAL containment (daily-batch quote detection): even
    //      docs + planted composites bootstrap the persisted index (frozen
    //      (df, tok) order — lossless under the prefix pigeonhole); odd
    //      docs arrive as the new batch, ranked under the frozen order
    //      (unseen tokens df=0), candidates are prefix×posting collisions
    //      with ≥1 new side, both directions tagged. The composites (a ⊕
    //      a+1, a even) sit in the INDEX while their odd component arrives
    //      NEW — exactly the "new fragment the corpus already subsumes"
    //      case Jaccard-incremental waves through ----
    "q212_containment_incremental" -> ((s, dir) => {
      val base0 = Tables.documents(s, dir).select("doc_id", "text")
      val comp = base0.as("a")
        .join(base0.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .filter(pmod(col("a.doc_id"), lit(37)) === 0)
        .select((col("a.doc_id") + 1000000L).as("doc_id"),
          concat(col("a.text"), lit(" "), col("b.text")).as("text"))
      val idx = aux(dir, "q212_contindex")
      Dedup.buildContainmentIndex(
        base0.filter(pmod(col("doc_id"), lit(2)) === 0).unionByName(comp),
        "doc_id", "text", idx)
      Dedup.containmentIncremental(
          base0.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", idx, "day2",
          candidateSink = Some(aux(dir, "q212_candidates")))
        .orderBy("container_id", "contained_id")
    }),

    // ---- STREAMING quote detection (StreamingContainment — q72's
    //      asymmetric face): the same split as q212 but the odd docs
    //      arrive as a stream; each micro-batch checks containment against
    //      the frozen index and folds in. The oracle reads the accumulated
    //      per-batch candidate dumps — agnostic to the batching ----
    "q213_stream_containment" -> ((s, dir) => withStreamingConf(s) { s =>
      val base0 = Tables.documents(s, dir).select("doc_id", "text")
      val comp = base0.as("a")
        .join(base0.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .filter(pmod(col("a.doc_id"), lit(37)) === 0)
        .select((col("a.doc_id") + 1000000L).as("doc_id"),
          concat(col("a.text"), lit(" "), col("b.text")).as("text"))
      val idx = aux(dir, "q213_contindex")
      Dedup.buildContainmentIndex(
        base0.filter(pmod(col("doc_id"), lit(2)) === 0).unionByName(comp),
        "doc_id", "text", idx)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .parquet(stageStreamDir(dir, "documents"))
        .filter(pmod(col("doc_id"), lit(2)) === 1)
      val pairs = aux(dir, "q213_pairs")
      val q = StreamingContainment.start(stream, "doc_id", "text", idx,
        pairs, tmpDir("q213_ckpt_"),
        candidateSink = Some(aux(dir, "q213_candidates")))
      q.awaitTermination()
      s.read.parquet(pairs)
        .select("container_id", "contained_id", "new_container",
          "new_contained", "inter", "sz_contained", "containment")
        .orderBy("container_id", "contained_id")
    }),

    // ---- INCREMENTAL kNN-graph maintenance: even vec_ids build the
    //      persisted graph (edges + probes), odd vec_ids fold in as gen 1 —
    //      new anchors probe old ∪ new, AFFECTED old anchors (stored probe
    //      cell ∩ new cells) re-rank their prior top-k against only the
    //      new arrivals (top-k(top-k ∪ new) = top-k(all ∪ new)), untouched
    //      anchors keep their rows. Compaction resolves supersession
    //      physically. The oracle reranks the union of both dumps — it
    //      knows nothing about generations ----
    "q214_knn_graph_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q214_vecindex")
      val g = aux(dir, "q214_graph")
      Dedup.buildSemanticIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nClusters = 16, targetCell = 100)
      Similarity.knnGraphBuild(s, idx, g, k = 5, nProbe = 2,
        candidateSink = Some(aux(dir, "q214_candidates") + "/build"))
      Similarity.knnGraphAppend(emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", idx, g, gen = 1L, k = 5, nProbe = 2,
        candidateSink = Some(aux(dir, "q214_candidates") + "/append"))
      Similarity.compactKnnGraph(s, g)
      Similarity.knnGraphRead(s, g).orderBy("query_id", "nbr_rank")
    }),

    // ---- STREAMING kNN-graph maintenance (StreamingKnnGraph — q214's
    //      online face): odd vec_ids arrive as a stream, each micro-batch
    //      folding into the persisted graph via the exact incremental
    //      merge; gen = batchId + 1, so replay overwrites itself. Oracle =
    //      rerank of build dump ∪ per-batch dumps, batching invisible ----
    "q215_stream_knn_graph" -> ((s, dir) => withStreamingConf(s) { s =>
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q215_vecindex")
      val g = aux(dir, "q215_graph")
      Dedup.buildSemanticIndex(emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nClusters = 16, targetCell = 100)
      Similarity.knnGraphBuild(s, idx, g, k = 5, nProbe = 2,
        candidateSink = Some(aux(dir, "q215_candidates") + "/build"))
      val stream = s.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
        .parquet(stageStreamDir(dir, "embeddings"))
        .filter(pmod(col("vec_id"), lit(2)) === 1)
      val q = StreamingKnnGraph.start(stream, "vec_id", "embedding", idx, g,
        tmpDir("q215_ckpt_"), k = 5, nProbe = 2,
        candidateSink = Some(aux(dir, "q215_candidates")))
      q.awaitTermination()
      Similarity.knnGraphRead(s, g).orderBy("query_id", "nbr_rank")
    }),

    // ---- CCNet PARAGRAPH dedup (Wenzek '20 §3.1 — the step CCNet
    //      actually dedups by): duplicated paragraphs keep exactly their
    //      canonical (min doc, min pos) occurrence — planted template
    //      paragraph across 40% of docs, a self-repeating doc, plus the
    //      corpus's natural exact-dup structure ----
    "q216_paragraph_dedup" -> ((s, dir) => {
      TextAnalysis.dedupParagraphs(q216Fixture(Tables.documents(s, dir)),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- kNN GRAPH over a TWO-LEVEL index: the k ∝ n regime past ~1024
    //      cells (the 100 TB shape — a flat argmin over 16k leaves per row
    //      is the wrong constant factor). Probes = nProbe leaves within
    //      each of the nProbeTop nearest tops, all map-only codegen;
    //      forced two-level here via the cutover so the small corpus
    //      exercises the big-corpus geometry ----
    "q217_knn_graph_two_level" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q217_vecindex")
      // nClusters floors k above the forced cutover (two-level at every
      // sf); targetCell keeps k ∝ n so the per-cell self-join stays linear
      // (the q209 lesson — a fixed cell count is quadratic in corpus
      // growth: 24 fixed cells measured 126 s at sf1)
      Dedup.buildSemanticIndex(emb, "vec_id", "embedding", idx,
        nClusters = 24, targetCell = 100, twoLevelCutover = 8)
      Similarity.knnGraphIndexed(s, idx, k = 5, nProbe = 3, nProbeTop = 2,
          candidateSink = Some(aux(dir, "q217_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- EXACT-SUBSTRING duplicate removal (Lee et al. '22 rewrite;
    //      q77's detector made surgical): every duplicated 20-token
    //      window keeps its canonical occurrence, covered tokens of every
    //      other occurrence are cut. Planted: full self-duplication
    //      (doc || doc — the copy vanishes), a cross-doc 24-token
    //      template, plus the corpus's natural exact-dup docs ----
    "q218_remove_dup_spans" -> ((s, dir) => {
      Dedup.removeDuplicateSpans(q218Fixture(Tables.documents(s, dir)),
          "doc_id", "text", spanLen = 20)
        .orderBy("doc_id")
    }),

    // ---- FAITHFUL ExactSubstr (q218's rule, formatting preserved):
    //      identical detection and removal, but surviving text keeps the
    //      ORIGINAL inter-token whitespace wherever two kept tokens were
    //      adjacent in the source; only splice points across a cut join
    //      with a single space. The ordered (token, separator, kept) fold
    //      is pure string algebra the oracle replays with list_reduce ----
    "q228_exactsubstr_faithful" -> ((s, dir) => {
      Dedup.removeDuplicateSpansFaithful(q218Fixture(Tables.documents(s, dir)),
          "doc_id", "text", spanLen = 20)
        .orderBy("doc_id")
    }),

    // ---- INCREMENTAL ExactSubstr (ingest-time trim): even docs' window
    //      hashes bootstrap the span index; odd docs arrive as the batch
    //      and lose every window the corpus has seen (index semi-join)
    //      or an earlier batch occurrence holds. Same q218 plant: the
    //      template rides the index via even docs, self-dups cut batch-
    //      internally, natural odd/even dup pairs cut via the index ----
    "q219_span_dedup_incremental" -> ((s, dir) => {
      val docs = q218Fixture(Tables.documents(s, dir))
      val idx = aux(dir, "q219_spanindex")
      Dedup.buildSpanIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", idx)
      Dedup.removeDuplicateSpansIncremental(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", idx, "day2")
        .orderBy("doc_id")
    }),

    // ---- STREAMING ExactSubstr (StreamingSpanDedup — q219 through the
    //      streaming engine): cleaned docs land per micro-batch, raw
    //      window hashes fold in, cross-batch quotes still cut ----
    "q220_stream_span_dedup" -> ((s, dir) => withStreamingConf(s) { s =>
      val docs = q218Fixture(Tables.documents(s, dir))
      val idx = aux(dir, "q220_spanindex")
      Dedup.buildSpanIndex(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", idx)
      val raw = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .parquet(stageStreamDir(dir, "documents"))
      val stream = q218Fixture(raw).filter(pmod(col("doc_id"), lit(2)) === 1)
      val cleaned = aux(dir, "q220_cleaned")
      val q = StreamingSpanDedup.start(stream, "doc_id", "text", idx,
        cleaned, tmpDir("q220_ckpt_"))
      q.awaitTermination()
      s.read.parquet(cleaned)
        .select("doc_id", "n_tokens", "n_removed", "clean_text")
        .orderBy("doc_id")
    }),

    // ---- ZONE-MAP data skipping (the parquet+manifest table format's
    //      read side): lineitem range-sharded on l_shipdate, a one-year
    //      window read through the shard map — partition pruning skips
    //      the non-overlapping files before any data I/O; the residual
    //      filter keeps the map an optimization, never a correctness
    //      dependence. Oracle sees only the plain range aggregate ----
    "q221_zonemap_scan" -> ((s, dir) => {
      val zm = aux(dir, "q221_zonemap")
      ZoneMap.write(Tables.lineitem(s, dir)
          .select("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag"),
        "l_shipdate", zm, shards = 16)
      val (df, _, _) = ZoneMap.readRange(s, zm, "l_shipdate",
        java.sql.Timestamp.valueOf("1997-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("1997-12-31 23:59:59"))
      df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 6).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- ZONE-MAP POINT LOOKUP via per-shard Bloom stats (Iceberg's
    //      bloom column stats in the portable bit-table form): the probe
    //      key's shards are found through the Bloom tables, everything
    //      else is skipped; one-sided — a holding shard is never skipped,
    //      a false positive is read and filtered by the residual ----
    "q222_zonemap_point" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val zm = aux(dir, "q222_zonemap")
      ZoneMap.write(li.select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"),
        "l_shipdate", zm, shards = 16, bloomCol = Some("l_orderkey"))
      val probe = li.agg(max(col("l_orderkey"))).first().getLong(0)
      val (df, _, _) = ZoneMap.readPoint(s, zm, probe)
      df.select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_linenumber", "l_quantity", "l_shipdate")
    }),

    // ---- ZONE-MAP table lifecycle (write → append → compact → read):
    //      even orderkeys write the base, odd ones append as fresh shards
    //      (files never rewritten — the cheap-append property), compaction
    //      re-shards to disjoint ranges, the range read sees one table ----
    "q223_zonemap_lifecycle" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag")
      val zm = aux(dir, "q223_zonemap")
      ZoneMap.write(li.filter(pmod(col("l_orderkey"), lit(2)) === 0),
        "l_shipdate", zm, shards = 8)
      ZoneMap.append(li.filter(pmod(col("l_orderkey"), lit(2)) === 1),
        zm, shards = 8)
      ZoneMap.compact(s, zm, shards = 16)
      val (df, _, _) = ZoneMap.readRange(s, zm, "l_shipdate",
        java.sql.Timestamp.valueOf("1998-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("1998-12-31 23:59:59"))
      df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity")), 6).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // ---- Z-ORDERED zone map (Delta's OPTIMIZE ZORDER BY composed from
    //      the existing pieces): range-shard on the Morton interleave of
    //      two uncorrelated keys with per-shard stats on BOTH — every
    //      shard then owns a tight RECTANGLE in (partkey, suppkey) space,
    //      so a 2-D box predicate prunes on both dimensions at once (a
    //      single-key sort can only ever prune one). ZoneMapSpec gates the
    //      pruning claim; the oracle sees the plain 2-predicate select ----
    "q229_zonemap_zorder" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        .withColumn("zkey", GraftFunctions.zOrderN(
          Seq(col("l_partkey"), col("l_suppkey")), bits = 16))
      val zm = aux(dir, "q229_zonemap")
      ZoneMap.write(li, "zkey", zm, shards = 16,
        statsCols = Seq("l_partkey", "l_suppkey"))
      val (pk, sk) = (400L, 40L)
      val (df, _, _) = ZoneMap.readRanges(s, zm, Seq(
        ("l_partkey", 0L, pk), ("l_suppkey", 0L, sk)))
      df.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 6).as("sum_qty"))
        .orderBy("l_suppkey")
    }),

    // ---- ZONE-MAP bloom LIFECYCLE point lookup (the config-drift hazard
    //      e2e): the bloom is configured ONCE at write; append and compact
    //      derive it from the persisted meta — an append can never create
    //      bloom-less shards a point lookup would wrongly prune, and the
    //      compaction's id reuse can never serve against stale bits. The
    //      probed key's rows straddle base and appended generations AND the
    //      compacted rewrite; lifecycle invisible to the oracle ----
    "q227_zonemap_bloom_lifecycle" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      val zm = aux(dir, "q227_zonemap")
      ZoneMap.write(li.filter(pmod(col("l_linenumber"), lit(2)) === 0),
        "l_shipdate", zm, shards = 8, bloomCol = Some("l_orderkey"))
      ZoneMap.append(li.filter(pmod(col("l_linenumber"), lit(2)) === 1),
        zm, shards = 8) // bloom config derived from meta, not re-passed
      val probe = li.agg(max(col("l_orderkey"))).first().getLong(0)
      val (pre, _, _) = ZoneMap.readPoint(s, zm, probe)
      // eager checkpoint: the compaction below REWRITES the files this
      // lazy read would otherwise re-scan (the ZoneMap.compact rule)
      val preRows = pre.select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .localCheckpoint(true)
      ZoneMap.compact(s, zm, shards = 16) // rewrite reuses shard ids; bloom follows
      val (post, _, _) = ZoneMap.readPoint(s, zm, probe)
      // both lifecycle stages must see every holding row: union == 2× oracle
      preRows.unionByName(
          post.select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"))
        .orderBy("l_linenumber", "l_quantity", "l_shipdate")
    }),

    // ---- STREAMING zone-mapped ingest (StreamingZoneMap): purchases
    //      bootstrap the base table, the rest of the events stream in as
    //      fresh shard generations; compaction restores disjoint ranges;
    //      the range read sees one table. Lifecycle invisible to the
    //      oracle ----
    "q224_stream_zonemap" -> ((s, dir) => withStreamingConf(s) { s =>
      val e = Tables.events(s, dir)
        .select("event_id", "user_id", "ts", "event_type", "value")
      val zm = aux(dir, "q224_zonemap")
      ZoneMap.write(e.filter(col("event_type") === "purchase"),
        "ts", zm, shards = 8)
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .select("event_id", "user_id", "ts", "event_type", "value")
        .filter(col("event_type") =!= "purchase")
      val q = StreamingZoneMap.start(stream, zm,
        tmpDir("q224_ckpt_"), shardsPerBatch = 8)
      q.awaitTermination()
      ZoneMap.compact(s, zm, shards = 16)
      val bounds = e.agg(min(col("ts")), max(col("ts"))).first()
      val (df, _, _) = ZoneMap.readRange(s, zm, "ts",
        bounds.getTimestamp(0), bounds.getTimestamp(1))
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // ---- INCREMENTAL CCNet paragraph dedup (the crawl-snapshot flow):
    //      even docs' paragraph hashes bootstrap the membership index,
    //      odd docs arrive as the new snapshot and lose every paragraph
    //      the corpus has seen or an earlier batch doc holds. q216's
    //      plant, split: the template rides the index via even docs ----
    "q225_paragraph_dedup_incremental" -> ((s, dir) => {
      val docs = q216Fixture(Tables.documents(s, dir))
      val idx = aux(dir, "q225_paraindex")
      TextAnalysis.buildParagraphIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", idx)
      TextAnalysis.dedupParagraphsIncremental(
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text", idx, "day2")
        .orderBy("doc_id")
    }),

    // ---- STREAMING CCNet paragraph dedup (StreamingParagraphDedup):
    //      the same split through the streaming engine — cleaned docs per
    //      micro-batch, hashes fold in, cross-batch repeats still cut ----
    "q226_stream_paragraph_dedup" -> ((s, dir) => withStreamingConf(s) { s =>
      val docs = q216Fixture(Tables.documents(s, dir))
      val idx = aux(dir, "q226_paraindex")
      TextAnalysis.buildParagraphIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", idx)
      val raw = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .parquet(stageStreamDir(dir, "documents"))
      val stream = q216Fixture(raw).filter(pmod(col("doc_id"), lit(2)) === 1)
      val cleaned = aux(dir, "q226_cleaned")
      val q = StreamingParagraphDedup.start(stream, "doc_id", "text", idx,
        cleaned, tmpDir("q226_ckpt_"))
      q.awaitTermination()
      s.read.parquet(cleaned)
        .select("doc_id", "n_paras", "n_removed", "clean_text")
        .orderBy("doc_id")
    }),

    // ---- LM UNLEARNING: documents retract FROM the persisted LM via
    //      negative count partials (the BM25-erasure semantic for a count
    //      model — no purge needed for score correctness, compaction erases
    //      physically). The oracle retrains WITHOUT the deleted docs and
    //      knows nothing about tombstones: a match proves exact statistical
    //      unlearning. Pending must equal purged ----
    "q202_lm_unlearn" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      val train = docs.filter(col("bucket") < 80)
      val idx = aux(dir, "q202_lmindex")
      LmPerplexity.buildLmIndex(train, "doc_id", "text", idx)
      LmPerplexity.deleteFromLmIndex(
        train.filter(pmod(col("doc_id"), lit(7)) === 0), "doc_id", "text",
        idx, "erase1")
      val score = docs.filter(col("bucket") >= 90)
      val pending = LmPerplexity.perplexityIndexed(s, idx, score, "doc_id", "text")
        .collect().map(_.toSeq).toSet
      LmPerplexity.purgeLmIndex(s, idx)
      val purged = LmPerplexity.perplexityIndexed(s, idx, score, "doc_id", "text")
      require(purged.collect().map(_.toSeq).toSet == pending,
        "pending-tombstone LM scoring must equal post-purge scoring")
      purged.orderBy("doc_id")
    }),

    // ---- TEMPERATURE domain resampling (α = 1/2): sampling weight ∝ √n_d,
    //      so the head domain stops dominating — rates DERIVED from the
    //      data, floored to exact ppm, keep = content-addressed hash
    //      predicate. α pinned to 1/2 because sqrt is IEEE-correctly-
    //      rounded in every engine (pow is not) — the whole rate derivation
    //      is oracle-replayable ----
    "q201_temperature_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DomainMix.temperatureSample(docs, "doc_id", "source", docs.count() / 2)
        .orderBy("doc_id")
    }),

    // ---- PHRASE hits WITH display snippets: the index answers the query
    //      (id-only result), then ONLY the k winning ids touch the document
    //      store via a broadcast semi — text never shuffles. Snippet = the
    //      8 tokens around the first occurrence, same tokenizer as the
    //      index. FULLY oracled incl. the snippet string ----
    "q194_phrase_snippets" -> ((s, dir) => {
      val idx = aux(dir, "q194_bm25index")
      val docs = Tables.documents(s, dir)
      LexicalRetrieval.buildBm25Index(docs, "doc_id", "text", idx)
      LexicalRetrieval.phraseSnippets(s, idx, docs, "doc_id", "text",
        Seq("window", "join"), k = 10, context = 3).orderBy("rank")
    }),

    // ---- PROXIMITY (NEAR) search: two terms within 3 tokens, either
    //      order — the relevance signal between bag-of-words and exact
    //      phrase. Per-doc pair counts over the positional postings,
    //      replayed by the oracle as a range-join count ----
    "q193_proximity_search" -> ((s, dir) => {
      val idx = aux(dir, "q193_bm25index")
      LexicalRetrieval.buildBm25Index(Tables.documents(s, dir), "doc_id", "text", idx)
      LexicalRetrieval.proximityTopK(s, idx, "spark", "hash", window = 3, k = 15)
        .orderBy("rank")
    }),

    // ---- BM25 index INTROSPECTION: the one-row health check an operator
    //      runs before trusting a serving index. Every number folds from the
    //      persisted partials, so pending deletions' negative rows are
    //      already netted out — the describe reports the LOGICAL corpus the
    //      serve path scores against, which is exactly what the oracle
    //      recomputes from the raw table minus the deleted docs ----
    "q192_bm25_describe" -> ((s, dir) => {
      import s.implicits._
      val idx = aux(dir, "q192_bm25index")
      LexicalRetrieval.buildBm25Index(Tables.documents(s, dir), "doc_id", "text", idx)
      LexicalRetrieval.deleteFromBm25Index(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(13)) === 0)
          .select("doc_id"), "doc_id", idx, "erase1")
      LexicalRetrieval.describeBm25Index(s, idx)
    }),

    // ---- BM25 index DELETION: erasure for lexical serving. Docs deleted BY
    //      ID write negative df/stats partials (scores must reflect the
    //      post-deletion corpus — hiding postings is not enough) + id-only
    //      tombstones the serve scan anti-joins; purge physically erases.
    //      The query serves PENDING and PURGED and requires them identical;
    //      the oracle computes BM25 over the corpus WITHOUT the deleted docs
    //      — it knows nothing about tombstones, so a match proves exact
    //      statistical erasure ----
    "q180_bm25_delete" -> ((s, dir) => {
      import s.implicits._
      val idx = aux(dir, "q180_bm25index")
      LexicalRetrieval.buildBm25Index(Tables.documents(s, dir), "doc_id", "text", idx)
      LexicalRetrieval.deleteFromBm25Index(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(7)) === 0)
          .select("doc_id"), "doc_id", idx, "erase1")
      val queries = Seq(
        (1L, Seq("spark", "hash")),
        (2L, Seq("dup", "window")),
        (3L, Seq("merge", "scan", "filter"))
      ).toDF("query_id", "terms")
      val pending = LexicalRetrieval.bm25TopKIndexed(s, idx, queries, k = 10)
        .collect().map(_.toSeq).toSet
      LexicalRetrieval.purgeBm25Index(s, idx)
      val purged = LexicalRetrieval.bm25TopKIndexed(s, idx, queries, k = 10)
      require(purged.collect().map(_.toSeq).toSet == pending,
        "pending-tombstone serving must equal post-purge serving")
      purged.orderBy("query_id", "rank")
    }),

    // ---- HYBRID retrieval: BM25 arm (persisted index, fit-free) + dense
    //      cosine arm fused by reciprocal rank (RRF, Cormack '09) — the
    //      retrieval stack a RAG/training-curation pipeline actually runs.
    //      Fusion consumes only RANKS, so it is exactly oracle-replayable;
    //      the dense arm runs exact here (the q17 contract) and production
    //      swaps in ivfadcTopKIndexed — rrfFuse is arm-agnostic ----
    "q181_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q181_bm25index")
      LexicalRetrieval.buildBm25Index(docs, "doc_id", "text", idx)
      val terms = Seq(
        (0L, Seq("spark", "hash")),
        (7L, Seq("merge", "scan")),
        (42L, Seq("dup"))
      ).toDF("query_id", "terms")
      val lex = LexicalRetrieval.bm25TopKIndexed(s, idx, terms, k = 20)
        .select("query_id", "doc_id", "rank")
      val sem = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id").isin(0L, 7L, 42L)),
          "vec_id", "embedding", k = 20, excludeSelf = true)
        .select(col("query_id"), col("nbr_id").as("doc_id"),
          col("nbr_rank").as("rank"))
      Similarity.rrfFuse(Seq(lex, sem), k = 10).orderBy("query_id", "rank")
    }),

    // ---- SHARDED corpus export + integrity manifest: content-addressed
    //      shard assignment (the q164 rule), per-shard (n_rows, checksum)
    //      with an ORDER-INDEPENDENT digest sum computed from the files AS
    //      WRITTEN — the oracle recomputes both from the raw table, so a
    //      lost/duplicated/corrupted exported row breaks the hash match ----
    "q182_export_manifest" -> ((s, dir) => {
      CorpusExport.exportShards(Tables.documents(s, dir),
          "doc_id", "text", aux(dir, "q182_export"), shards = 8)
        .orderBy("shard")
    }),

    // ---- STREAMING hybrid retrieval (StreamingHybridServe): one request
    //      path over BOTH persisted indexes — per micro-batch the lexical
    //      arm serves from the BM25 index, the dense arm from the semantic
    //      index (full probe here = exact; nProbe is the production dial),
    //      RRF-fused. Oracle = q181's, agnostic to the batching ----
    "q183_stream_hybrid" -> ((s, dir) => withStreamingConf(s) { s =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val bmIdx = aux(dir, "q183_bm25index")
      val semIdx = aux(dir, "q183_semindex")
      LexicalRetrieval.buildBm25Index(docs, "doc_id", "text", bmIdx)
      Dedup.buildSemanticIndex(emb, "vec_id", "embedding", semIdx, nClusters = 16)
      val queries = Seq(
        (0L, Seq("spark", "hash")),
        (7L, Seq("merge", "scan")),
        (42L, Seq("dup"))
      ).toDF("query_id", "terms")
        .join(emb.select(col("vec_id").as("query_id"),
          col("embedding").as("qvec")), Seq("query_id"))
      val qdir = tmpDir("q183_queries_")
      queries.coalesce(1).write.mode("overwrite").parquet(qdir)
      val stream = s.readStream
        .schema("query_id LONG, terms ARRAY<STRING>, qvec ARRAY<FLOAT>")
        .parquet(qdir)
      val out = aux(dir, "q183_served")
      val q = StreamingHybridServe.start(stream, bmIdx, semIdx, out,
        tmpDir("q183_ckpt_"), k = 10, armK = 20, nProbe = 16)
      q.awaitTermination()
      s.read.parquet(out).select("query_id", "rank", "doc_id", "rrf")
        .orderBy("query_id", "rank")
    }),

    // ---- LEAKAGE-FREE train/test split: near-dup clusters bucket ATOMICALLY
    //      by their representative's hash, so a paraphrase can never sit in
    //      test while its twin trains (the failure q56/q175 only detect,
    //      closed structurally). Candidates dumped; the oracle re-verifies
    //      jaccard, rebuilds components, and replays rep + md5 bucket ----
    "q185_leakfree_split" -> ((s, dir) => {
      val docs = Tables.documentsFanned(s, dir)
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5,
        candidateSink = Some(aux(dir, "q185_candidates")))
      Dedup.leakFreeSplit(docs, "doc_id", pairs).orderBy("doc_id")
    }),

    // ---- STREAMING CURATION capstone (StreamingCurationPipeline): the
    //      crawl-ingest request path in one stream — per micro-batch every
    //      doc is gated against the frozen benchmark gram index
    //      (quarantined), the admitted docs near-dup-check against and fold
    //      into the persisted signature index (duplicate), survivors land
    //      (kept). Each doc's final status is re-derived by the oracle from
    //      the gate's gram replay + the dedup candidate dump ----
    "q189_stream_curation" -> ((s, dir) => withStreamingConf(s) { s =>
      val docs = Tables.documents(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      val gramIdx = aux(dir, "q189_gramindex")
      Dedup.buildGramIndex(docs.filter(col("bucket") >= 90), "doc_id", "text", gramIdx)
      val sigIdx = aux(dir, "q189_sigindex")
      Dedup.buildMinhashIndex(
        docs.filter(col("bucket") < 80 && pmod(col("doc_id"), lit(2)) === 0)
          .select("doc_id", "text"),
        "doc_id", "text", sigIdx)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .parquet(stageStreamDir(dir, "documents"))
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
        .filter(col("bucket") < 80 && pmod(col("doc_id"), lit(2)) === 1)
        .drop("bucket")
      val kept = aux(dir, "q189_kept")
      val verd = aux(dir, "q189_verdicts")
      val q = StreamingCurationPipeline.start(stream, "doc_id", "text",
        gramIdx, sigIdx, kept, verd, tmpDir("q189_ckpt_"),
        maxRatio = 0.9, threshold = 0.5,
        candidateSink = Some(aux(dir, "q189_candidates")))
      q.awaitTermination()
      val streamedIds = docs
        .filter(col("bucket") < 80 && pmod(col("doc_id"), lit(2)) === 1)
        .select("doc_id")
      // subset explicit schemas (extra file columns are ignored): both
      // sinks may legitimately be empty — reject-all gate / all-duplicate
      // batch
      val verdicts = s.read
        .schema("doc_id LONG, quarantined BOOLEAN, batch STRING")
        .parquet(verd).select(col("doc_id"), col("quarantined"))
      val keptIds = s.read.schema("doc_id LONG, text STRING, lang STRING, " +
          "source STRING, n_chars LONG, batch STRING")
        .parquet(kept).select(col("doc_id"))
        .withColumn("__kept", lit(true))
      streamedIds
        .join(verdicts, Seq("doc_id"), "left")
        .join(keptIds, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("quarantined"), lit("quarantined"))
            .when(coalesce(col("__kept"), lit(false)), lit("kept"))
            .otherwise(lit("duplicate")).as("status"))
        .orderBy("doc_id")
    }),

    // ---- CLUSTER-BALANCED sampling: flatten topic skew by capping every
    //      embedding cell at the same count — the curation rule that keeps
    //      one crawl topic from dominating the mix. Cells come from the
    //      persisted semantic index (frozen geometry, the q86/q152 family);
    //      the per-cell keep rule is the deterministic salted-hash rank of
    //      capPerDomain, so reruns and engines agree row-for-row. Cell
    //      assignment isn't ANSI-expressible -> assignments dumped, the
    //      oracle replays rank + cap over them (the q18 contract) ----
    "q188_cluster_balanced" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = aux(dir, "q188_vecindex")
      Dedup.buildSemanticIndex(emb, "vec_id", "embedding", idx, targetCell = 50)
      val assigned = s.read.parquet(IndexLifecycle.resolveIndexDir(s"$idx/vectors"))
        .select(col("doc_id").as("vec_id"), col("cell").cast("long").as("cell"))
      assigned.write.mode("overwrite").parquet(aux(dir, "q188_cells"))
      val kept = DomainMix.capPerDomain(assigned, "vec_id", "cell",
        (GraftFunctions.hashSplitBucket(
          concat(lit("bal:"), col("vec_id").cast("string")), 1000000)).cast("double"),
        n = 20)
      assigned
        .join(kept.select(col("vec_id"), lit(true).as("__k")), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("__k"), lit(false)).as("kept"))
        .orderBy("vec_id")
    }),

    // ---- CORPUS version DIFF: what did the refresh change? Payloads reduce
    //      to digests BEFORE the full-outer join, so text never shuffles;
    //      the synthetic "after" snapshot drops every 11th doc, edits every
    //      7th, and adds 50 new ones — all replayed literally in SQL ----
    "q187_corpus_diff" -> ((s, dir) => {
      val before = Tables.documents(s, dir)
      val after = before
        .filter(pmod(col("doc_id"), lit(11)) =!= 0)
        .withColumn("text", when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(
          before.filter(col("doc_id") < 50)
            .withColumn("doc_id", col("doc_id") + 1000000L)
            .withColumn("text", concat(lit("new "), col("text"))))
      CorpusExport.diffCorpora(before, after, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // ---- PER-DOMAIN quality pruning: keep the best 80% of each domain by
    //      quality — the C4-style rule where the cutoff adapts per domain.
    //      Rank-based (integer ppm predicate), never an interpolated float
    //      quantile, so the oracle replays it exactly; the windows see only
    //      narrow (id, domain, rank) tuples ----
    "q186_domain_quality_prune" -> ((s, dir) => {
      DomainMix.topFractionPerDomain(Tables.documents(s, dir), "doc_id",
          "source", TextAnalysis.qualityScore(col("text")), keepPpm = 800000L)
        .orderBy("doc_id")
    }),

    // ---- BUDGETED corpus selection via distributed EXACT prefix scan:
    //      best-quality-first until half the corpus's tokens are spent. The
    //      naive form (Window.orderBy with no partition) funnels 100 TB
    //      through one task; this one is range-shuffle + parallel
    //      within-partition windows + a partition-count-bounded offset
    //      collect. Integer running sums -> bit-replayable oracle ----
    "q184_budgeted_select" -> ((s, dir) => {
      // project NARROW before the scan: the range shuffle and the pinned
      // checkpoint must carry (id, tokens, quality) — never document text
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          GraftFunctions.tokenCountWs(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
      // the one scalar the operator inherently needs (the quotaAlloc rule)
      val budget = docs.agg(sum(col("n_tokens"))).collect().head.getLong(0) / 2
      PrefixScan.budgetedSelect(docs,
          Seq(col("quality").desc, col("doc_id").asc), col("n_tokens"), budget)
        .select("doc_id", "n_tokens", "running_total")
        .orderBy("doc_id")
    }),

    // ---- STREAMING lexical retrieval (StreamingBm25Serve — q160's request
    //      path over the BM25 index): the index is built offline once; query
    //      batches arrive as a STREAM and each micro-batch is served
    //      fit-free, top-k landing in per-batch partitions ----
    "q178_stream_bm25" -> ((s, dir) => withStreamingConf(s) { s =>
      import s.implicits._
      val idx = aux(dir, "q178_bm25index")
      LexicalRetrieval.buildBm25Index(Tables.documents(s, dir), "doc_id", "text", idx)
      val qdir = tmpDir("q178_queries_")
      Seq(
        (1L, Seq("spark", "scan")),
        (2L, Seq("window", "sort", "dup")),
        (3L, Seq("big", "small", "fast", "slow"))
      ).toDF("query_id", "terms").coalesce(1).write.mode("overwrite").parquet(qdir)
      val stream = s.readStream
        .schema("query_id LONG, terms ARRAY<STRING>")
        .parquet(qdir)
      val out = aux(dir, "q178_served")
      val q = StreamingBm25Serve.start(stream, idx, out, tmpDir("q178_ckpt_"), k = 10)
      q.awaitTermination()
      s.read.parquet(out).select("query_id", "rank", "doc_id", "dl", "score")
        .orderBy("query_id", "rank")
    }),

    // ---- STREAMING decontamination gate (StreamingDecontamGate): the
    //      benchmark split's gram surface is frozen offline into a gram
    //      index; document batches arrive as a STREAM and each doc is
    //      admitted or quarantined by its contamination ratio against the
    //      frozen index (q175's audit number as online admission control).
    //      Verdicts land per batch; the oracle replays ratio AND gate ----
    "q179_stream_decontam" -> ((s, dir) => withStreamingConf(s) { s =>
      val docs = Tables.documents(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
      val idx = aux(dir, "q179_gramindex")
      Dedup.buildGramIndex(docs.filter(col("bucket") >= 90), "doc_id", "text", idx)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .parquet(stageStreamDir(dir, "documents"))
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
        .filter(col("bucket") < 80)
        .drop("bucket")
      val kept = aux(dir, "q179_kept")
      val verdicts = aux(dir, "q179_verdicts")
      val q = StreamingDecontamGate.start(stream, "doc_id", "text", idx, kept,
        verdicts, tmpDir("q179_ckpt_"), maxRatio = 0.9)
      q.awaitTermination()
      s.read.schema("doc_id LONG, n_grams LONG, n_seen LONG, ratio DOUBLE, " +
          "quarantined BOOLEAN, batch STRING")
        .parquet(verdicts)
        .select("doc_id", "n_grams", "n_seen", "ratio", "quarantined")
        .orderBy("doc_id")
    }),

    // ---- INCREMENTAL image dedup (daily-batch flow, q55's contract in
    //      hamming space): even ids bootstrap the persisted hash index,
    //      odd ids arrive as the new batch — candidates new×(new∪index),
    //      never index×index, pairs oriented index-canonical. FULLY
    //      oracled with NO dump: hashes, bands, caps, tags, orientation
    //      and marks all re-derive from the closed form ----
    "q169_image_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idx = aux(dir, "q169_hashidx")
      def hashesOf(sub: DataFrame) =
        Multimodal.dHash63(Multimodal.scenePngAssets(sub, "doc_id"))
          .filter(col("decode_ok"))
          .select(col("asset_id").as("doc_id"), col("dhash").as("sh"))
      Dedup.buildHashIndex(
        hashesOf(docs.filter(pmod(col("doc_id"), lit(2)) === 0)), idx)
      val newHashes = hashesOf(docs.filter(pmod(col("doc_id"), lit(2)) === 1))
        .localCheckpoint(true) // decode once: groups + marks both read it
      Dedup.hammingIncrementalMarks(newHashes, idx, "b1")
        .select(col("doc_id"), col("is_duplicate")).orderBy("doc_id")
    }),

    // ---- STREAMING image near-dup ingest (StreamingImageDedup — q72's
    //      perceptual-hash face): even ids bootstrap the hash index; odd
    //      ids arrive as a STREAM of documents converted to REAL PNGs and
    //      decoded per micro-batch. Tagged candidates dumped per batch;
    //      the oracle re-derives the hashes from FIRST PRINCIPLES and the
    //      hamming/orientation/marks from the dump (batching-agnostic) ----
    "q170_stream_image_dedup" -> ((s, dir) => withStreamingConf(s) { s =>
      val docs = Tables.documents(s, dir)
      val idx = aux(dir, "q170_hashidx")
      Dedup.buildHashIndex(
        Multimodal.dHash63(Multimodal.scenePngAssets(
            docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id"))
          .filter(col("decode_ok"))
          .select(col("asset_id").as("doc_id"), col("dhash").as("sh")), idx)
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .parquet(stageStreamDir(dir, "documents"))
        .filter(pmod(col("doc_id"), lit(2)) === 1)
      val kept = aux(dir, "q170_kept")
      val q = graft.streaming.StreamingImageDedup.start(stream,
        b => Multimodal.scenePngAssets(b, "doc_id"), idx, kept,
        tmpDir("q170_ckpt_"),
        candidateSink = Some(aux(dir, "q170_candidates")))
      q.awaitTermination()
      val keptIds = s.read.schema("doc_id LONG, text STRING, lang STRING, " +
          "source STRING, n_chars LONG, batch STRING")
        .parquet(kept).select(col("doc_id"))
        .withColumn("__kept", lit(true))
      docs.filter(pmod(col("doc_id"), lit(2)) === 1).select(col("doc_id"))
        .join(keptIds, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("__kept") === false, lit(true)).as("is_duplicate"))
        .orderBy("doc_id")
    }),

    // ---- image retrieval by perceptual hash: top-k nearest corpus images
    //      per query in HAMMING space — the scan reads 8-byte signatures,
    //      never pixels (the stage-1-reads-no-payload story at its
    //      extreme; exact brute force IS the scale shape for ≤64-bit
    //      signatures). Rank-limit window → map-side top-k. Fully oracled:
    //      hashes re-derive from the closed form, ranking replays ----
    "q168_image_hamming_topk" -> ((s, dir) => {
      val assets = Multimodal.scenePngAssets(Tables.documents(s, dir), "doc_id")
      // eager checkpoint: corpus AND query side read this frame — without
      // it the query-side filter re-decodes the full corpus (q165's note)
      val hashes = Multimodal.dHash63(assets).filter(col("decode_ok"))
        .select(col("asset_id"), col("dhash")).localCheckpoint(true)
      Similarity.hammingTopK(hashes, hashes.filter(col("asset_id") < 10),
          "asset_id", "dhash", k = 5, excludeSelf = true)
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- set operations: INTERSECT / EXCEPT, tagged into one result ----
    "q49_set_ops" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      def users(t: String) = e.filter(col("event_type") === t).select("user_id").distinct()
      val both = users("purchase").intersect(users("click"))
        .select(lit("both").as("op"), col("user_id"))
      val purchaseOnly = users("purchase").except(users("click"))
        .select(lit("purchase_only").as("op"), col("user_id"))
      both.unionByName(purchaseOnly).orderBy("op", "user_id")
    }),

    // ---- rolling interval window: per-event trailing-1h count and sum
    //      (RANGE frame over unix_micros — µs-exact, matches an INTERVAL
    //      frame; the standard sliding feature for event enrichment) ----
    "q54_rolling_window" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L) // trailing 1 hour in microseconds
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_trailing_1h"),
          sum(round(col("value") * 100).cast("long")).over(w).as("sum_cents_1h"))
        .orderBy("event_id")
    }),

    // ---- forward as-of join: next view at-or-after each purchase ----
    "q53_asof_forward" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val views = e.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts", "value")
      AsOfJoin.forward(purchases, views,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts", rightTime = "ts",
        rightTiebreak = "event_id",
        rightValueCols = Seq("event_id", "value"))
        .select("event_id", "user_id", "ts", "value", "asof_event_id", "asof_value", "asof_ts")
        .orderBy("event_id")
    }),

    // ---- reproducible train/test split: content-addressed hash bucketing
    //      (portable across engines — the oracle derives the SAME split) ----
    "q52_hash_split" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
        .withColumn("split", when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("split")
    }),

    // ---- curation capstone: the LLM training-data filter in ONE pass —
    //      quality floor + exact-dedup keep-mark + language tag, all pure
    //      Column expressions over a single documents scan ----
    "q51_curation" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
      Tables.documentsFanned(s, dir)
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .withColumn("__lt", TextAnalysis.langTokens(col("text")))
        .withColumn("lang_pred", TextAnalysis.langIdFromTokens(col("__lt"), col("text")))
        .withColumn("keep_id", min("doc_id").over(w))
        .filter(col("quality") >= 0.5 && col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("lang_pred"), col("quality"))
        .orderBy("doc_id")
    }),

    // ---- corpus report: the per-split statistics rollup every training-
    //      data pipeline publishes (doc/token/char counts, quality mass,
    //      quality-gate pass counts). Quality mass is summed in integer
    //      MICROS — a distributed double sum is order-dependent, the
    //      integer sum is exact and engine-portable (same rule as money
    //      cents) ----
    "q58_corpus_report" -> ((s, dir) => {
      Tables.documentsFanned(s, dir)
        .withColumn("bucket", GraftFunctions.hashSplitBucket(col("doc_id"), 100))
        .withColumn("split", when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val").otherwise("test"))
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .groupBy("split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(GraftFunctions.tokenCountWs(col("text")).cast("long")).as("sum_tokens"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          sum(round(col("quality") * 1000000).cast("long")).as("sum_quality_micros"),
          count(when(col("quality") >= 0.5, 1)).as("n_quality_pass"))
        .orderBy("split")
    }),

    // ---- correlated scalar subquery (Catalyst decorrelates to a join):
    //      orders that are their customer's most expensive order ----
    "q50_correlated_max" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_v50")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders_v50 o
          |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders_v50 o2
          |                      WHERE o2.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- JSON-lines sink + scan (source-format coverage, the log-
    //      interchange format): write events as JSONL — including the
    //      nested props object re-parsed from its stored JSON string —
    //      read it back with an explicit schema, aggregate. Doubles
    //      survive the text roundtrip exactly (Spark emits
    //      shortest-roundtrip decimals). At scale a JSONL corpus splits
    //      by line, so the scan parallelizes like CSV ----
    "q87_json_lines" -> ((s, dir) => {
      val out = tmpDir("q87_json_")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k LONG")).as("props"))
        .write.mode("overwrite").json(out)
      s.read
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, props STRUCT<k: LONG>")
        .json(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_cents"),
          sum(col("props.k")).as("sum_k"),
          max(col("user_id")).as("max_user"))
        .orderBy("event_type")
    }),

    // ---- ORC sink + scan (columnar source-format coverage beside
    //      parquet): same roundtrip contract as q37's CSV — write, read
    //      back, aggregate; ORC carries the µs timestamp natively ----
    "q88_orc_roundtrip" -> ((s, dir) => {
      val out = tmpDir("q88_orc_")
      Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_value_cents"),
          max(col("ts")).as("max_ts"))
        .orderBy("event_type")
    }),

    // ---- context-window chunking: split each document into fixed-size
    //      character chunks with overlap (size 256, stride 192) — the
    //      step that turns a curated corpus into trainable sequences.
    //      Map-only (sequence + posexplode + substring inside one codegen
    //      stage, zero exchanges before the presentation sort); chunk
    //      content is verified by md5 digest so no text leaves the scan ----
    "q89_doc_chunks" -> ((s, dir) => {
      Chunking.chunkByChars(Tables.documents(s, dir), "doc_id", "text",
          size = 256, stride = 192)
        .select(col("doc_id"), col("chunk_id"),
          length(col("chunk")).cast("long").as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // ---- int8 scalar quantization of the embedding column: the
    //      storage/serving compression a 100 TB vector corpus wants
    //      (4 bytes → 1 byte per dim before ANN serving). Symmetric
    //      per-vector scale 127/max|x|; the oracle re-derives the
    //      quantized vector with the same IEEE double ops, so the
    //      emitted extremes/L1 (and the scale itself) match exactly.
    //      Map-only: zero exchanges before the presentation sort ----
    "q90_vec_quantize" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .withColumn("scale", Similarity.int8Scale(col("embedding")))
        .withColumn("__q", Similarity.int8Quantize(col("embedding"), col("scale")))
        .select(col("vec_id"), col("scale"),
          array_min(col("__q")).as("q_min"),
          array_max(col("__q")).as("q_max"),
          expr("aggregate(__q, 0L, (acc, v) -> acc + abs(v))").as("q_l1"))
        .orderBy("vec_id")
    }),

    // ---- winsorization (robust outlier clamping) per event type: exact
    //      P01/P99 bounds (percentile ≡ quantile_cont, the q71 contract),
    //      broadcast back, values clamped into [p01, p99]. Reports clamp
    //      counts and the clamped sum in integer cents. Two shuffles total
    //      (bounds agg + final agg); the bounds frame is broadcast ----
    "q91_winsorize" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val bounds = ev.groupBy("event_type")
        .agg(percentile(col("value"), lit(0.01)).as("p01"),
          percentile(col("value"), lit(0.99)).as("p99"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .groupBy("event_type", "p01", "p99")
        .agg(count(when(col("value") < col("p01"), 1)).as("n_low"),
          count(when(col("value") > col("p99"), 1)).as("n_high"),
          sum(round(greatest(col("p01"), least(col("p99"), col("value"))) * 100)
            .cast("long")).as("sum_winsorized_cents"))
        .select("event_type", "p01", "p99", "n_low", "n_high", "sum_winsorized_cents")
        .orderBy("event_type")
    }),

    // ---- TPC-H Q20 shape (dominant-supplier detection): the same fact at
    //      two granularities — (supplier, part) quantity vs per-part
    //      total — with the total as a WINDOW sum over the aggregate, so
    //      the fact is scanned and aggregated ONCE and the per-part pass
    //      reuses the already-narrow (supp, part, qty) rows (a join back
    //      to a second scan-and-aggregate would read lineitem twice).
    //      Fraction predicate in exact integer algebra (quantities are
    //      whole-valued); survivors semi-join back to the dimension.
    //      Threshold 20%: share concentration FALLS with sf (more lineitems
    //      per part → shares even out; measured max share 0.37/0.245/0.258
    //      at sf0.001/0.01/0.1), and the r4 audit showed >30% matched
    //      nobody at sf0.01 — a vacuous 0=0 oracle row. >20% leaves 10/7/6
    //      dominant suppliers at the three shipped sfs, so both the
    //      predicate and the semi-join are exercised everywhere ----
    "q92_dominant_supplier" -> ((s, dir) => {
      val dominant = Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("qty")).as("supp_qty"))
        .withColumn("part_qty", expr("sum(supp_qty) OVER (PARTITION BY l_partkey)"))
        .where(col("supp_qty") * 5 > col("part_qty"))
        .select(col("l_suppkey")).distinct()
      Tables.supplier(s, dir)
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    }),

    // ---- mergeable quantile sketch (percentile_approx): the one-pass
    //      alternative to exact percentiles at 100 TB — the exact form
    //      sorts every group; the sketch combines map-side and merges.
    //      Oracled under the q39 contract: the EXACT median is emitted
    //      (percentile ≡ quantile_cont, bit-exact), the sketch only has to
    //      land inside the exact [P49, P51] rank window — claimed as a
    //      boolean DuckDB asserts TRUE, so a drifting sketch flips the row
    //      red. Groups here are thousands of rows, so the window is ~40
    //      ranks wide vs a sketch rank error of n/10000 ----
    "q93_approx_quantile" -> ((s, dir) => {
      // ONE exact-percentile buffer for all three cut points (array form:
      // one value→count map per group instead of three — r13-opt, guide
      // §1.2 "don't compute things twice"; the interpolation math per
      // percentage is unchanged, so the values are bit-identical)
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          percentile(col("l_extendedprice"),
            array(lit(0.5), lit(0.49), lit(0.51))).as("__ps"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("__approx"))
        .select(col("l_returnflag"), element_at(col("__ps"), 1).as("p50_exact"),
          (col("__approx") >= element_at(col("__ps"), 2) &&
            col("__approx") <= element_at(col("__ps"), 3)).as("approx_ok"))
        .orderBy("l_returnflag")
    }),

    // ---- ranking-window statistics (ntile / percent_rank / cume_dist):
    //      per-customer order-size quartiles and distribution positions —
    //      feature-engineering staples. All three share ONE window
    //      (partition + order), so the plan pays a single hash exchange and
    //      one sort; the tie-break on o_orderkey makes every rank — and the
    //      percent_rank/cume_dist divisions — deterministic and bit-exact
    //      cross-engine ----
    "q94_window_rank_stats" -> ((s, dir) => {
      val over = "OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)"
      Tables.orders(s, dir).selectExpr(
          "o_orderkey", "o_custkey", "o_totalprice",
          s"CAST(ntile(4) $over AS BIGINT) AS quartile",
          s"percent_rank() $over AS pct_rank",
          s"cume_dist() $over AS cume")
        .orderBy("o_orderkey")
    }),

    // ---- calendar-INTERVAL RANGE frame: per-customer trailing-30-day
    //      spend and order count AS OF each order (leakage-free: the frame
    //      ends at CURRENT ROW). q54 builds a time-range frame by hand
    //      (unix_micros + numeric rangeBetween); this is the NATIVE
    //      calendar form — `RANGE BETWEEN INTERVAL 30 DAYS PRECEDING` on
    //      the timestamp itself — the only correct path when frames are
    //      calendar months, where a fixed micro count is wrong. Same-day peers land
    //      in each other's frames identically in both engines regardless
    //      of tie order. One hash exchange + one sort serves both
    //      aggregates; money in integer cents ----
    "q98_interval_frame" -> ((s, dir) => {
      val w = "OVER (PARTITION BY o_custkey ORDER BY o_orderdate " +
        "RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)"
      Tables.orders(s, dir)
        .selectExpr("o_orderkey", "o_custkey", "o_orderdate",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
        .selectExpr("o_orderkey", "o_custkey", "o_orderdate",
          s"CAST(sum(cents) $w AS BIGINT) AS spend_30d_cents",
          s"CAST(count(*) $w AS BIGINT) AS n_orders_30d")
        .orderBy("o_orderkey")
    }),

    // ---- SCD Type-2 dimension build: collapse each user's event stream
    //      into [valid_from, valid_to) state intervals — run-length
    //      collapse via lag (keep only CHANGE rows), then valid_to = the
    //      next change's valid_from via lead; the current state carries a
    //      NULL valid_to. Both windows share one (user_id; ts, event_id)
    //      spec and Filter preserves partitioning + ordering, so the plan
    //      pays ONE exchange and ONE sort for the whole build. The
    //      event_id tie-break makes the kept row set deterministic ----
    "q99_scd2_intervals" -> ((s, dir) => {
      val w = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
      Tables.events(s, dir)
        .selectExpr("user_id", "event_type", "ts", "event_id",
          s"lag(event_type) $w AS prev_type")
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .selectExpr("user_id", "event_type", "ts", "event_id",
          s"lead(ts) $w AS valid_to")
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").as("valid_from"), col("valid_to"))
        .orderBy("user_id", "valid_from", "state", "valid_to")
    }),

    // ---- blocked fuzzy record linkage: probe records (part names with the
    //      last word deterministically dropped — a derived "dirty" side, no
    //      synthetic data) link back to the clean dimension by BLOCKING on
    //      the first name token (an equi-join — never all-pairs) and
    //      verifying with codegen `levenshtein`. The verify runs on DISTINCT
    //      strings, not rows: both sides reduce to their distinct
    //      (blk, string) values first — the canonical linkage optimization,
    //      since edit-distance cost depends only on the string pair, and the
    //      corpus repeats names heavily (here 20k rows → 8 probes × 64
    //      candidates; a naive row×row block join is 50M levenshtein calls
    //      in 8 skewed blocks — measured 52 s at sf0.1, this form <1 s).
    //      argmin(distance, key) commutes with the reduction because
    //      clean-side dedup keeps min(p_partkey) per name, so
    //      min(struct(dist, key)) over distinct names equals the row-level
    //      winner. The tiny winner table fans back to probe rows with a
    //      broadcast join; at production vocabulary sizes AQE makes the
    //      same call from runtime stats ----
    "q100_fuzzy_linkage" -> ((s, dir) => {
      val clean = Tables.part(s, dir).select(col("p_partkey"), col("p_name"))
        .withColumn("blk", split(col("p_name"), " ").getItem(0))
        .groupBy("blk", "p_name").agg(min("p_partkey").as("cand_key"))
      val probe = Tables.part(s, dir).select(col("p_partkey").as("probe_id"),
          regexp_replace(col("p_name"), "\\s+\\S+$", "").as("dirty"))
        .withColumn("blk", split(col("dirty"), " ").getItem(0))
      val best = probe.select("blk", "dirty").distinct()
        .join(clean, "blk")
        .withColumn("dist", levenshtein(col("dirty"), col("p_name")).cast("long"))
        .groupBy("blk", "dirty")
        .agg(min(struct(col("dist"), col("cand_key"))).as("best"))
      probe.join(broadcast(best), Seq("blk", "dirty"))
        .select(col("probe_id"), col("best.cand_key").as("match_id"),
          col("best.dist").as("dist"))
        .orderBy("probe_id")
    }),

    // ---- MAD robust outlier detection: median + median-absolute-deviation
    //      per group, flag |x − med| > 10·MAD — the robust cousin of q91's
    //      winsorize (a MAD threshold ignores the outliers it's hunting;
    //      stddev does not). Exact percentiles stay in INTEGER algebra by
    //      unit-doubling: quantile_cont averages two middles, so on
    //      2×cents the median is integral, and on 2×residual so is the
    //      MAD; the flag compares resid > 5·mad_qc — no float thresholds
    //      anywhere. Per-group stats broadcast back (3 groups must never
    //      become 3 shuffle partitions); the narrow (flag, cents) frame is
    //      re-derived per pass — three column-pruned scans beat caching the
    //      fact table at 100 TB ----
    "q101_mad_outliers" -> ((s, dir) => {
      def base = Tables.lineitem(s, dir).select(col("l_returnflag"),
        (round(col("l_extendedprice") * 100).cast("long") * 2).as("hc"))
      val med = base.groupBy("l_returnflag")
        .agg(percentile(col("hc"), lit(0.5)).cast("long").as("med_hc"))
      def withR = base.join(broadcast(med), Seq("l_returnflag"))
        .withColumn("resid", abs(col("hc") - col("med_hc")))
      val mad = withR.groupBy("l_returnflag")
        .agg(percentile(col("resid") * 2, lit(0.5)).cast("long").as("mad_qc"))
      withR.join(broadcast(mad), Seq("l_returnflag"))
        .groupBy("l_returnflag", "med_hc", "mad_qc")
        .agg(count(when(col("resid") > col("mad_qc") * 5, 1)).as("n_outliers"),
          sum(when(col("resid") > col("mad_qc") * 5, col("hc"))).as("outlier_hc_sum"))
        .orderBy("l_returnflag")
    }),

    // ---- two-stage compressed-domain ANN: int8 scan → fp32 rerank
    //      (Similarity.twoStageTopK). Stage-1 candidates are dumped under
    //      the q18/q47 contract and DuckDB independently re-scores exact
    //      cosine + re-ranks + cuts at k ----
    "q102_two_stage_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.twoStageTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, m = 20, excludeSelf = true,
          candidateSink = Some(aux(dir, "q102_candidates")))
        .orderBy("query_id", "nbr_rank")
    }),

    // ---- cohort retention: users bucketed by first-activity DAY, counted
    //      per days-since-cohort — the product-analytics staple. Daily, not
    //      monthly: the events corpus spans exactly 30 days, so a month
    //      bucket collapsed the whole cohort×offset matrix to ONE cell (r4
    //      audit: operator unexercised) and even weeks give ≤5 cells; day
    //      granularity yields a real matrix (30/59/111 cells at
    //      sf0.001/0.01/0.1). Day index is absolute integer algebra — epoch
    //      days — identical on both engines, no calendar-bucket ambiguity.
    //      The distinct (user, day) reduction is one shuffle with map-side
    //      combine, the cohort is an UNORDERED window min (whole-partition
    //      frame — no per-row sort rank work), and the final rollup groups
    //      tiny (cohort, offset) keys that partial aggregation collapses
    //      before the exchange ----
    "q103_cohort_retention" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"),
          expr("datediff(ts, DATE'1970-01-01')").cast("long").as("d"))
        .distinct()
      ud.selectExpr("user_id", "d", "min(d) OVER (PARTITION BY user_id) AS cohort")
        .groupBy(col("cohort").as("cohort_day"), (col("d") - col("cohort")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // ---- market-basket pair mining: co-purchased part pairs with min
    //      support — candidate pairs are generated IN PLACE per basket
    //      (sort_array(collect_set) → nested-transform expansion, the
    //      Dedup bucket pattern), never by a self-join: one shuffle builds
    //      baskets, the quadratic blowup is bounded by basket size (≤7
    //      here; production caps giant baskets exactly like the dedup
    //      df-cap), and the pair rollup has map-side combine. The oracle
    //      states the same semantics as the self-join SQL every warehouse
    //      would write ----
    "q104_basket_pairs" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_orderkey").agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .select(explode(expr(
          "flatten(transform(parts, (x, i) -> " +
            "transform(slice(parts, i + 2, size(parts)), y -> struct(x AS p1, y AS p2))))"))
          .as("pr"))
        .groupBy(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .orderBy("p1", "p2")
    }),

    // ---- event-transition matrix (Markov sequence features): per-user
    //      next-event via lead over ONE (user; ts, id) window, then counts
    //      + transition probability per from-state. The probability stays
    //      EXACT integer algebra (ppm via integer division — `div` here,
    //      `//` in the oracle); the 5×5 result key space collapses
    //      map-side, and the row totals broadcast back rather than ever
    //      becoming a 5-partition shuffle ----
    "q105_markov_transitions" -> ((s, dir) => {
      val t = Tables.events(s, dir)
        .selectExpr("user_id", "event_type AS from_state",
          "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state")
        .filter(col("to_state").isNotNull)
        .groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
      val tot = t.groupBy("from_state").agg(sum(col("n")).as("tot"))
      t.join(broadcast(tot), Seq("from_state"))
        .select(col("from_state"), col("to_state"), col("n"),
          expr("CAST(n * 1000000 div tot AS BIGINT)").as("ppm"))
        .orderBy("from_state", "to_state")
    }),

    // ---- streaming dedup with BOUNDED state: q57's exact first-arrival
    //      dedup holds every key forever; `dropDuplicatesWithinWatermark`
    //      is the production form — state for a key is dropped once the
    //      watermark passes it, so state is O(keys per watermark window),
    //      not O(all keys ever). The oracle claim (key set == batch
    //      DISTINCT) holds because every duplicate in the corpus arrives
    //      within the watermark of its first occurrence (single
    //      AvailableNow batch); late-beyond-watermark duplicates would
    //      legitimately re-emit — that is the documented trade ----
    "q106_stream_dedup_wm" -> ((s, dir) => withStreamingConf(s) { s =>
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
                .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      val qname = s"q106_out_${System.nanoTime()}"
      val q = stream.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q106_ckpt_"))
        .start()
      q.awaitTermination()
      s.table(qname).select("user_id", "event_type").orderBy("user_id", "event_type")
    }),

    // ---- data profiling: per-column null + exact-distinct counts for a
    //      whole table in ONE aggregation pass (the ingest data-quality
    //      audit every feature store runs before accepting a batch). The
    //      multi-column exact distinct plans one Expand (rows × columns)
    //      over a single scan — at 100 TB the same query swaps
    //      `count_distinct` for q39's `approx_count_distinct` and the
    //      Expand disappears; exact is the oracle-able form. The wide
    //      one-row aggregate pivots to long (column, metric) rows with a
    //      zero-shuffle array explode ----
    "q107_profile" -> ((s, dir) => {
      val cols = Seq("event_id", "event_type", "props", "ts", "user_id", "value")
      val aggs = cols.flatMap(c => Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__nd")))
      Tables.events(s, dir)
        .agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
            lit(c).as("column_name"),
            col(s"${c}__nulls").as("n_nulls"),
            col(s"${c}__nd").as("n_distinct"))): _*)).as("m"))
        .select("m.*")
        .orderBy("column_name")
    }),

    // ---- BPE tokenizer: learn a merge table from the corpus word counts
    //      (graft.functions.Bpe — distributed count pass, driver loop on
    //      the capped Zipf-small vocab, exactly how production tokenizer
    //      trainers work), then tokenize the corpus by encoding each
    //      DISTINCT word once and joining counts back. The learned merge
    //      table is dumped under the candidate-dump contract; DuckDB
    //      REPLAYS merge application from it (recursive CTE, rank-ordered
    //      left-to-right list folds) over the same vocabulary and
    //      re-derives every document's word + BPE-token counts ----
    "q108_bpe_tokenize" -> ((s, dir) =>
      // fanned loader: the word explode is per-row CPU-dense (see Tables)
      Bpe.tokenizeCorpus(Tables.documentsFanned(s, dir), "doc_id", "text",
          numMerges = 30, maxVocab = 50000,
          mergeSink = Some(aux(dir, "q108_merges")))
        .orderBy("doc_id")),

    // ---- multi-touch attribution: every click in the hour before a
    //      purchase shares the credit — linear split in EXACT ppm integer
    //      algebra, the remainder going to the last touch so each
    //      purchase's credits sum to exactly 1,000,000 (floats would
    //      leak). q68's interval-join convention; both windows share the
    //      p_id partition so the plan pays one exchange, and the
    //      lookback bound keeps per-purchase fan-out O(clicks per hour),
    //      never a user's full history ----
    "q109_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id"), col("ts").as("c_ts"))
      p.join(c, Seq("user_id"))
        .filter(col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
        .selectExpr("p_id", "c_id", "c_ts",
          "CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n_touch",
          "row_number() OVER (PARTITION BY p_id ORDER BY c_ts DESC, c_id DESC) AS rn")
        .selectExpr("p_id", "c_id", "n_touch",
          "CAST(CASE WHEN rn = 1 THEN 1000000 - (n_touch - 1) * (1000000 div n_touch) " +
            "ELSE 1000000 div n_touch END AS BIGINT) AS credit_ppm")
        .orderBy("p_id", "c_id")
    }),

    // ---- moving median (robust rolling smoother): exact percentile over
    //      a 5-row window per user — the outlier-resistant rolling feature
    //      (a rolling MEAN drags on every spike; the median ignores it).
    //      Unit-doubled cents keep the even-count interpolation integral,
    //      so the result is exact integers cross-engine; one exchange +
    //      one sort, frame work is O(frame) per row ----
    "q110_moving_median" -> ((s, dir) => {
      Tables.events(s, dir)
        .selectExpr("event_id", "user_id", "ts",
          "CAST(round(value * 100) AS BIGINT) * 2 AS vc2")
        .selectExpr("event_id", "user_id",
          "CAST(percentile(vc2, 0.5) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
            "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS med5_hc")
        .orderBy("event_id")
    }),

    // ---- CDC MERGE apply (Delta MERGE INTO semantics on the parquet
    //      store): base snapshot = latest per user before the cutoff; the
    //      second half of the month is a change batch where 'error' events
    //      are tombstones (DELETE) and everything else upserts. The batch
    //      collapses to one NET change per key (one max_by shuffle, map-side
    //      combine) before a single full-outer key join — sequential-apply
    //      semantics without sequential execution ----
    "q111_cdc_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .selectExpr("user_id", "event_id", "ts", "event_type",
          "CAST(round(value * 100) AS BIGINT) AS vc")
      val cut = lit("2024-01-16").cast(TimestampType)
      val base = LatestPerKey.viaMaxBy(
        ev.filter(col("ts") < cut).drop("event_type"),
        Seq("user_id"), "ts", Seq("event_id"))
      val changes = ev.filter(col("ts") >= cut)
        .withColumn("op",
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
        .drop("event_type")
      CdcMerge.applyChanges(base, changes, "user_id", Seq("ts", "event_id"), "op")
        .orderBy("user_id")
    }),

    // ---- gaps-and-islands: per-user consecutive-day activity streaks via
    //      the date-minus-row_number trick (an island's members share one
    //      anchor date). The distinct projection collapses the event volume
    //      to ≤ keys×days BEFORE the window, so the sorted partition is tiny
    //      regardless of event skew; all outputs are exact integers ----
    "q112_streaks" -> ((s, dir) => {
      Tables.events(s, dir)
        .selectExpr("user_id", "CAST(ts AS DATE) AS d").distinct()
        .selectExpr("user_id", "d",
          "date_sub(d, CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT)) AS grp")
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_streaks"),
          max("len").cast("long").as("longest_streak"),
          sum("len").cast("long").as("active_days"))
        .orderBy("user_id")
    }),

    // ---- corpus-mix drift: per-source unigram diversity (Simpson index)
    //      and divergence from the corpus distribution (total-variation
    //      distance), both in EXACT integer ppm algebra — entropy/KL need
    //      ln() whose last ulp differs across engines, while Simpson
    //      (1 − Σp²) and TV (½Σ|p−q|) are rational in the counts. Text is
    //      tokenized ONCE; everything downstream is narrow (token, count)
    //      frames: one (source,token) agg, a token-keyed re-agg for the
    //      corpus marginal, broadcast per-source totals. The absent-token
    //      mass Σ_{i∉src} d_i·N folds in algebraically as M·N − Σ_{i∈src}
    //      d_i·N, so the join stays |source's tokens|, never |vocab| ----
    "q113_domain_divergence" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(GraftFunctions.wsTokens(lower(col("text")))).as("token"))
        .filter(length(col("token")) > 0)
      val c = toks.groupBy("source", "token").agg(count(lit(1)).as("c"))
      val d = c.groupBy("token").agg(sum("c").as("d"))
      val n = c.groupBy("source").agg(sum("c").as("n"))
      val m = d.agg(sum("d").as("m"))
      // the per-term products scale as (corpus token count)² — c·m is
      // ~10²⁷ already at trillion-token corpora, and their SUM leaves Long
      // range long before 100 TB. DuckDB silently promotes to HUGEINT;
      // Spark (non-ANSI) would silently wrap. DECIMAL(38,0) intermediates
      // keep the algebra exact on both engines to ~10³⁸ — far past any
      // real corpus — and the final ppm values still fit BIGINT
      c.join(d, "token")
        .join(broadcast(n), "source")
        .crossJoin(broadcast(m))
        .groupBy("source")
        .agg(max("n").as("n_tok"), max("m").as("m_tot"),
          sum(abs(col("c").cast("decimal(38,0)") * col("m") -
            col("d").cast("decimal(38,0)") * col("n"))).as("sum_abs"),
          sum(col("d").cast("decimal(38,0)") * col("n")).as("sum_dn"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("sum_c2"))
        .selectExpr("source", "CAST(n_tok AS BIGINT) AS n_tokens",
          "CAST((CAST(n_tok AS DECIMAL(38,0)) * n_tok - sum_c2) * 1000000" +
            " div (CAST(n_tok AS DECIMAL(38,0)) * n_tok) AS BIGINT) AS simpson_ppm",
          "CAST((sum_abs + CAST(m_tot AS DECIMAL(38,0)) * n_tok - sum_dn) * 500000" +
            " div (CAST(n_tok AS DECIMAL(38,0)) * m_tot) AS BIGINT) AS tv_ppm")
        .orderBy("source")
    }),

    // ---- equi-width histogram (the profiling primitive): global bounds
    //      from one tiny aggregate broadcast back onto the scan, bucket
    //      assignment is pure integer algebra inside codegen, then one
    //      groupBy over ≤20 keys. At 100 TB this is two passes over a
    //      single column with nothing wide in between ----
    "q114_histogram" -> ((s, dir) => {
      val o = Tables.table(s, dir, "orders")
        .selectExpr("CAST(round(o_totalprice * 100) AS BIGINT) AS cents")
      val bounds = o.agg(min("cents").as("lo"), max("cents").as("hi"))
      o.crossJoin(broadcast(bounds))
        .selectExpr("least((cents - lo) * 20 div (hi - lo + 1), 19) AS bucket", "cents")
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_orders"),
          min("cents").as("min_cents"), max("cents").as("max_cents"),
          sum("cents").as("sum_cents"))
        .orderBy("bucket")
    }),

    // ---- robust scaler ((x − median) / IQR, the outlier-immune cousin of
    //      the z-score): quartiles per event_type on ×4 cents so the 0.25/
    //      0.75 interpolation lands on exact integers, broadcast back, and
    //      the scaled value is an integer-ppm division — no sqrt, no
    //      stddev, nothing float-order-dependent. Both engines truncate
    //      integer division identically (verified: DuckDB // truncates) ----
    "q115_robust_scale" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .selectExpr("event_id", "event_type",
          "CAST(round(value * 100) AS BIGINT) * 4 AS vc4")
      val q = ev.groupBy("event_type").agg(
        percentile(col("vc4"), lit(0.25)).cast("long").as("q1"),
        percentile(col("vc4"), lit(0.5)).cast("long").as("med"),
        percentile(col("vc4"), lit(0.75)).cast("long").as("q3"))
      ev.join(broadcast(q), "event_type")
        .selectExpr("event_id", "event_type",
          "CASE WHEN q3 > q1 THEN (vc4 - med) * 1000000 div (q3 - q1) END AS z_ppm")
        .orderBy("event_id")
    }),

    // ---- deterministic stratified sample: within each stratum rank by a
    //      content hash (md5 — portable, seedless, replayable) and keep the
    //      top ⌈20%⌉. Exactly proportional allocation per stratum, unlike
    //      Bernoulli sampling whose per-stratum counts are random; both
    //      windows share the one stratum exchange ----
    "q116_stratified_sample" -> ((s, dir) => {
      Tables.documents(s, dir)
        .selectExpr("source", "doc_id",
          "md5(concat(CAST(doc_id AS STRING), ':', source)) AS h")
        .selectExpr("source", "doc_id",
          "row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn",
          "count(*) OVER (PARTITION BY source) AS cnt")
        .filter(expr("rn <= (cnt + 4) div 5"))
        .selectExpr("source", "doc_id", "CAST(rn AS BIGINT) AS rank_in_stratum")
        .orderBy("source", "doc_id")
    }),

    // ---- snapshot CHANGE DATA FEED: two real ingests into the store
    //      (first half of the month, then the rest), then onlineDiff
    //      between the two served versions — the Delta CDF semantic derived
    //      from immutable version dirs. No 'removed' rows by construction
    //      (ingest is upsert-only); 'changed' is null-safe column-wise
    //      comparison over the declared features. The user_id % 10 slice
    //      exercises the CDF machinery identically at a tenth of the store
    //      write volume — the ingest is the whole cost and it's fixed
    //      overhead, not the thing under test ----
    "q117_snapshot_diff" -> ((s, dir) => {
      val fs = new FeatureStore(s, tmpDir("graft_diff_"))
      fs.createGroup(FeatureGroup("events_fg", "user_id", "ts", Seq(
        FeatureDef("user_id", FType.Integral),
        FeatureDef("event_id", FType.Integral),
        FeatureDef("ts", FType.FTimestamp),
        FeatureDef("event_type", FType.FString),
        FeatureDef("value", FType.Fractional))))
      val ev = Tables.events(s, dir).select(latestCols.map(col): _*)
        .filter(col("user_id") % 10 === 0)
      val cut = lit("2024-01-16").cast(TimestampType)
      fs.ingest("events_fg", ev.filter(col("ts") < cut))
      fs.ingest("events_fg", ev.filter(col("ts") >= cut))
      val vs = fs.onlineVersions("events_fg").takeRight(2)
      fs.onlineDiff("events_fg", vs(0), vs(1)).orderBy("user_id")
    }),

    // ---- rolling distinct-kind count (behavioral diversity feature): how
    //      many distinct event types in the user's last 10 events. Spark
    //      lacks DISTINCT window aggregates, so the frame collects and
    //      dedups in-expression — O(frame) per row, frame is 10; the oracle
    //      uses DuckDB's native count(DISTINCT) OVER ----
    "q118_rolling_distinct" -> ((s, dir) => {
      Tables.events(s, dir)
        .selectExpr("event_id", "user_id", "ts", "event_type")
        .selectExpr("event_id", "user_id",
          "CAST(size(array_distinct(collect_list(event_type) OVER (" +
            "PARTITION BY user_id ORDER BY ts, event_id " +
            "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))) AS BIGINT) AS k10")
        .orderBy("event_id")
    }),

    // ---- interval overlap aggregation: peak concurrent sessions per day
    //      via the ±1 sweep. Sessions are clipped to day boundaries first
    //      (bounded fan-out: a session spans few days), so the running sum
    //      partitions BY DAY — no global single-partition window, the
    //      classic scale trap for sweeps. Ends sort after starts at the
    //      same instant (delta DESC), so touching sessions count as
    //      concurrent — identically in both engines ----
    "q119_max_concurrency" -> ((s, dir) => {
      val sess = Sessionize
        .byGap(Tables.events(s, dir), "user_id", "ts", "event_id", gapSeconds = 1800)
        .groupBy("user_id", "session_id")
        .agg(min("ts").as("s_start"), max("ts").as("s_end"))
      val clipped = sess
        .selectExpr("s_start", "s_end",
          "explode(sequence(CAST(s_start AS DATE), CAST(s_end AS DATE))) AS day")
        .selectExpr("day",
          "greatest(s_start, CAST(day AS TIMESTAMP)) AS t_lo",
          "least(s_end, CAST(day AS TIMESTAMP) + INTERVAL 1 DAY) AS t_hi")
      clipped.selectExpr("day", "t_lo AS t", "1 AS delta")
        .union(clipped.selectExpr("day", "t_hi AS t", "-1 AS delta"))
        .selectExpr("day",
          "sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running")
        .groupBy("day").agg(max("running").cast("long").as("max_concurrent"))
        // date32 vs DuckDB's timestamp-backed DATE confuses the pandas
        // compare; a midnight timestamp is unambiguous in both engines
        .selectExpr("CAST(day AS TIMESTAMP) AS day", "max_concurrent")
        .orderBy("day")
    }),

    // ---- triangle counting on the co-purchase graph (degree orientation —
    //      Graph.scala): per-part triangle participation, the clustering
    //      primitive for template-farm / community detection on
    //      co-occurrence graphs. The edge list is built basket-local (the
    //      q104 in-place expansion, no self-join); the counter orients by
    //      degree so one hub part cannot blow up the wedge space. The
    //      oracle re-derives the full count from the classic 3-way join —
    //      two completely different plans, identical counts at every sf
    //      (126k/414k/1.9M triangles — non-vacuous everywhere) ----
    "q120_triangles" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .groupBy("l_orderkey").agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .select(explode(expr(
          "flatten(transform(parts, (x, i) -> " +
            "transform(slice(parts, i + 2, size(parts)), y -> struct(x AS a, y AS b))))"))
          .as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
      Graph.triangleCounts(edges)
        .select(col("node").cast("long").as("node"), col("n_tri").cast("long").as("n_tri"))
        .orderBy("node")
    }),

    // ---- data-quality constraint gate (DataQuality.scala): five checks —
    //      completeness, key uniqueness, domain membership, value bound,
    //      referential integrity — where the four single-table checks share
    //      ONE orders scan (one agg row, unpivoted) and only the FK check
    //      pays a second (left-anti against broadcast-small parent keys).
    //      The domain and bound checks genuinely FIRE on this corpus
    //      ('P'-status and ≥300k-price orders exist at every sf), so pass
    //      AND fail verdicts are both exercised; metrics are exact integer
    //      ppm ----
    "q121_quality_checks" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val checks = Seq(
        DataQuality.notNull("o_custkey"),
        DataQuality.unique("o_orderkey"),
        DataQuality.inSet("o_orderstatus", Seq("O", "F")),
        DataQuality.bound("o_totalprice", _ < 300000))
      val ri = DataQuality.referentialViolations(
        o, "o_custkey", Tables.customer(s, dir), "c_custkey")
      DataQuality.run(s, o, checks, Seq("fk_o_custkey" -> ri))
        .orderBy("check_name")
    }),

    // ---- count-min sketch (CountMin.scala): the d×w grid is a plain
    //      (row, bucket) groupBy — 4×1024 cells regardless of input size,
    //      map-side combinable, mergeable across batches by construction.
    //      md5-derived buckets make the grid ENGINE-PORTABLE, so the oracle
    //      rebuilds the identical grid and the estimates compare EXACTLY —
    //      not merely as bound claims; never_under states the CMS
    //      one-sided-error invariant on top ----
    "q122_count_min" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      cmsTopEstimates(ev, CountMin.sketch(ev, "user_id", depth = 4, width = 1024))
    }),

    // ---- streaming count-min (StreamingSketch.scala): the same sketch fed
    //      4 micro-batches at a time — each batch folds a d×w PARTIAL grid
    //      into a persisted parquet dir (batch=<id> subdir, overwrite →
    //      replay-idempotent), and the per-cell SUM of the parts equals the
    //      one-shot batch grid EXACTLY (linear summary: merge is addition).
    //      Same oracle as q122 — agreement proves stream-merged == batch,
    //      the property that lets 1000 executors sketch 100 TB shard-local
    //      and add the grids ----
    "q123_stream_cms" -> ((s, dir) => withStreamingConf(s) { s =>
      val src = tmpDir("q123_src_")
      Tables.table(s, dir, "events").select("user_id")
        .repartition(4).write.mode("overwrite").parquet(src)
      val grid = tmpDir("q123_grid_")
      val stream = s.readStream.schema("user_id LONG")
        .option("maxFilesPerTrigger", "1").parquet(src)
      val q = StreamingSketch.start(stream, "user_id", depth = 4, width = 1024,
        grid, tmpDir("q123_ckpt_"))
      q.awaitTermination()
      cmsTopEstimates(Tables.events(s, dir), StreamingSketch.mergedGrid(s, grid))
    }),

    // ---- portable Bloom-filter semi-join pruning (Bloom.scala): the filter
    //      is a ≤m-row table of SET bit positions (md5-derived), so the
    //      oracle rebuilds the identical bitmap and the comparison checks
    //      the exact FALSE-POSITIVE SET, not just a rate bound. Members
    //      always pass (one-sided), shown by n_actual == n_both ----
    "q124_bloom_prune" -> ((s, dir) => {
      val members = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      // size the bitmap from the build-side cardinality (known at build
      // time — one map-side-combinable count): 8 bits/key with k=2 holds
      // the fp rate ~5% at EVERY sf, so both verdict paths (true member,
      // false positive) fire deterministically at every shipped scale.
      // Long arithmetic — 8 × count wraps Int past ~2.7×10⁸ members —
      // and Bloom.build itself guards m ∈ (0, 2²⁸] (broadcastable sizes)
      val m = 8L * members.count()
      val bits = Bloom.build(members, "c_custkey", k = 2, m = m)
      val o = Tables.orders(s, dir)
      val verdicts = Bloom.mightContain(
        o.select(col("o_custkey").as("c_custkey")), "c_custkey", bits, k = 2, m = m)
      val truth = members.withColumn("__member", lit(true))
      o.join(verdicts, o("o_custkey") === verdicts("c_custkey"))
        .join(truth, o("o_custkey") === truth("c_custkey"), "left")
        .groupBy("o_orderstatus").agg(
          count(lit(1)).as("n_orders"),
          sum(when(col("might_contain"), 1L).otherwise(0L)).as("n_pass"),
          sum(when(col("__member").isNotNull, 1L).otherwise(0L)).as("n_actual"),
          sum(when(col("might_contain") && col("__member").isNotNull, 1L)
            .otherwise(0L)).as("n_both"),
          sum(when(col("might_contain") && col("__member").isNull, 1L)
            .otherwise(0L)).as("n_false_pos"))
        .orderBy("o_orderstatus")
    }),

    // ---- 2-D skyline / Pareto frontier (Skyline.scala): parts where no
    //      other part is both cheaper and smaller. The bucketed sort-sweep
    //      runs the classic O(n log n) skyline WITHOUT a single-partition
    //      global window (per-bucket min-y + carry-in stitch); the oracle
    //      is the quadratic NOT EXISTS dominance definition — two different
    //      algorithms, identical frontier ----
    "q125_skyline" -> ((s, dir) => {
      val p = Tables.part(s, dir)
        .select(col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long").as("price_cents"),
          col("p_size").cast("long").as("p_size"))
      Skyline.skyline2d(p, "price_cents", "p_size", bucketWidth = 1000L)
        .select("p_partkey", "price_cents", "p_size").orderBy("p_partkey")
    }),

    // ---- time-weighted average (TWAP): each purchase's value holds until
    //      the user's next purchase; the average weights by holding
    //      duration, not event count — the step-function integral every
    //      pricing/telemetry pipeline needs. One shuffle (window by user);
    //      exact integer algebra end-to-end: cents × whole seconds summed
    //      as BIGINT (≤1e16 at any sf — no overflow, no fp drift) ----
    "q126_twap" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val seg = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("next_ts", lead("ts", 1).over(w))
        .filter(col("next_ts").isNotNull)
        .withColumn("dur_s",
          expr("(unix_micros(next_ts) - unix_micros(ts)) div 1000000"))
      seg.groupBy("user_id").agg(
          sum(expr("cents * dur_s")).as("sum_weighted"),
          sum("dur_s").as("sum_dur_s"))
        .filter(col("sum_dur_s") > 0)
        .select(col("user_id"),
          col("sum_weighted").cast("long").as("sum_weighted"),
          col("sum_dur_s").cast("long").as("sum_dur_s"),
          expr("sum_weighted div sum_dur_s").cast("long").as("twap_cents"))
        .orderBy("user_id")
    }),

    // ---- prefix-filtered set-similarity join (Dedup.prefixFilterJaccard,
    //      AllPairs/PPJoin): the LOSSLESS candidate scheme — df-ordered
    //      prefixes + length filter + position filter, all integer algebra
    //      on a rational threshold (4/5), so the oracle re-derives the
    //      ENTIRE pipeline (order, prefixes, caps, prunes, verification)
    //      independently. Position filter + rarest-first prefixes cut
    //      candidates ~17x vs the capped full index at sf0.1, recall
    //      untouched by construction ----
    "q127_prefix_join" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.prefixFilterJaccard(docs, "doc_id", "text")
      Dedup.marksFromPairs(docs, "doc_id", pairs)
        .select(col("doc_id"), col("is_duplicate")).orderBy("doc_id")
    }),

    // ---- interval-overlap join (IntervalJoin.scala): user sessions ×
    //      the 50 globally busiest hours. A keyless range join is a
    //      BroadcastNestedLoop in Spark; the operator rewrites it as a
    //      GRID-BUCKETED equi-join (explode to hour cells, hash join,
    //      exact re-check) with a first-shared-cell predicate instead of
    //      a pair distinct — the standard temporal/spatial join shape at
    //      scale. Overlap durations in exact whole microseconds ----
    "q128_interval_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val sess = Sessionize.byGap(e, "user_id", "ts", "event_id", gapSeconds = 1800)
        .groupBy("user_id", "session_id")
        .agg(min("ts").as("s_lo"), max("ts").as("s_hi"))
      val busy = e.groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("h")).limit(50)
        .select(col("h"), expr("h + INTERVAL 1 HOUR - INTERVAL 1 MICROSECOND").as("h_hi"))
      IntervalJoin.overlapJoin(sess, "s_lo", "s_hi", busy, "h", "h_hi",
          cellSeconds = 3600)
        .select(col("user_id"),
          (expr("unix_micros(least(s_hi, h_hi))") -
            expr("unix_micros(greatest(s_lo, h))")).as("ov"))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_windows"),
          sum("ov").cast("long").as("sum_overlap_us"))
        .orderBy("user_id")
    }),

    // ---- PageRank in exact integer arithmetic (Graph.pagerankInt): 3
    //      power iterations over the co-purchase graph, damping 17/20,
    //      fixed-point micros with floor at every step — bit-reproducible
    //      on any engine (fp PageRank differs by summation order), so the
    //      oracle replays the identical iterations as chained CTEs and the
    //      scores compare EXACTLY, not within tolerance ----
    "q129_pagerank" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .groupBy("l_orderkey").agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .select(explode(expr(
          "flatten(transform(parts, (x, i) -> " +
            "transform(slice(parts, i + 2, size(parts)), y -> struct(x AS a, y AS b))))"))
          .as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
      Graph.pagerankInt(edges, iters = 3)
        .orderBy(desc("x"), col("node")).limit(100)
        .select(col("node").cast("long").as("node"), col("x").cast("long").as("score"))
    }),

    // ---- largest-remainder quota allocation (Hamilton's method): split a
    //      global sample budget across strata proportionally with exact
    //      integer remainder ranking — the deterministic way to size
    //      per-domain subsamples so they sum EXACTLY to the budget. One
    //      narrow aggregation shuffle; the allocation itself runs on the
    //      |strata|-row frame ----
    "q130_quota_alloc" -> ((s, dir) =>
      quotaAlloc(ordersByNation(s, dir), _ => 100000L).orderBy("n_name")),

    // ---- deterministic weighted sampling (GraftFunctions.weightedKeep):
    //      keep each document with probability n_chars/max — importance
    //      sampling that prefers long documents, decided by the row's own
    //      content hash: reproducible row-for-row cross-engine, map-only
    //      after one tiny max broadcast, exact integer compare at the
    //      boundary (u·max < w·2³², no fp) ----
    "q131_weighted_sample" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      val m = d.agg(max("n_chars")).first().getLong(0)
      d.filter(GraftFunctions.weightedKeep(col("doc_id"), col("n_chars"), lit(m)))
        .orderBy("doc_id")
    }),

    // ---- exact stratified subsample (q130 ∘ content-hash ranking): take
    //      EXACTLY alloc_i rows per stratum, alloc from the largest-
    //      remainder split of a 10% budget — so the sample size is exactly
    //      total div 10 BY CONSTRUCTION, not in expectation (the q131/q116
    //      hash-threshold forms are exact-probability, not exact-count).
    //      Row selection ranks by the row's own md5 within each stratum:
    //      deterministic, engine-portable, and uniform within strata; one
    //      window by stratum + a broadcast of the 25-row allocation ----
    "q132_quota_sample" -> ((s, dir) => {
      val o = ordersByNation(s, dir)
      val alloc = quotaAlloc(o, total => total / 10)
        .select(col("n_name"), col("alloc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("n_name")
        .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
      o.withColumn("rk", row_number().over(w))
        .join(broadcast(alloc), "n_name")
        .filter(col("rk") <= col("alloc"))
        .select(col("o_orderkey"), col("n_name"))
        .orderBy("o_orderkey")
    }),

    // ---- A1 form ④: latest-per-key on transformWithState (Spark 4's
    //      arbitrary-state API — typed named state handles, declarative
    //      TTL, RocksDB-only). Same argmax semantics and collapse
    //      convention as q11, same oracle; the runtime difference is WHERE
    //      state lives (disk-backed + changelog vs heap) and that TTL is a
    //      config, not hand-rolled timer bookkeeping ----
    "q134_latest_tws" -> ((s, dir) => withStreamingConf(s) { s =>
      import s.implicits._
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .select(col("user_id"), col("ts"),
          col("event_id"), col("event_type"), col("value"))
        .as[KeyedEvent]
      val qname = s"q134_out_${System.nanoTime()}"
      val q = StreamingLatest.latestPerKeyTWS(stream)
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q134_ckpt_"))
        .start()
      q.awaitTermination()
      LatestPerKey.viaMaxBy(s.table(qname), Seq("user_id"), "ts", Seq("event_id"))
        .select(latestCols.map(col): _*).orderBy("user_id")
    }),

    // ---- streaming per-key top-k on transformWithState ListState
    //      (StreamingTopK.scala): best-3 purchase values per user kept
    //      incrementally current; ≤ k rows of state per key BY CONSTRUCTION
    //      (no TTL needed for boundedness). Emitted snapshots collapse by
    //      re-ranking (every true top-k row is emitted at its arrival
    //      batch — rank at arrival ≤ final rank); oracle is the plain
    //      batch window row_number ≤ 3 ----
    "q135_stream_topk" -> ((s, dir) => withStreamingConf(s) { s =>
      import s.implicits._
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id"), col("event_type"), col("value"))
        .as[KeyedEvent]
      val qname = s"q135_out_${System.nanoTime()}"
      val q = StreamingTopK.topKPerKey(stream, k = 3)
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q135_ckpt_"))
        .start()
      q.awaitTermination()
      s.table(qname).distinct()
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")
            .orderBy(col("value").desc, col("event_id").desc)))
        .filter(col("rank") <= 3)
        .select(col("user_id"), col("rank").cast("long").as("rank"),
          col("value"), col("event_id"))
        .orderBy("user_id", "rank")
    }),

    // ---- semi-structured props via the VARIANT type (Spark 4): decode the
    //      JSON ONCE into a variant column, then extract typed paths — the
    //      decode-once/extract-many pattern that replaces N get_json_object
    //      re-parses with one binary-encoded decode at scale. Aggregates in
    //      exact integers; oracle re-derives via DuckDB JSON operators ----
    "q136_variant_json" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("v", expr("parse_json(props)"))
        .select(col("event_type"), expr("variant_get(v, '$.k', 'long')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          countDistinct(col("k")).as("n_k"))
        .orderBy("event_type")
    }),

    // ---- streaming per-key profile on transformWithState MapState
    //      (StreamingProfile): per-user event_type → count map updated in
    //      place (point writes, not whole-blob rewrites). Counts only
    //      grow, so max per (user, type) over the emitted updates IS the
    //      final profile; oracle is the batch groupBy count ----
    "q137_stream_profile" -> ((s, dir) => withStreamingConf(s) { s =>
      import s.implicits._
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .select(col("user_id"), col("ts"),
          col("event_id"), col("event_type"), col("value"))
        .as[KeyedEvent]
      val qname = s"q137_out_${System.nanoTime()}"
      val q = StreamingProfile.profilePerKey(stream)
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q137_ckpt_"))
        .start()
      q.awaitTermination()
      s.table(qname)
        .groupBy("user_id", "event_type")
        .agg(max(col("n")).as("n"))
        .orderBy("user_id", "event_type")
    }),

    // ---- hierarchical ROLLUP (region → nation → grand total) in exact
    //      cents with grouping_id: ONE aggregation pass serves all three
    //      levels (partial aggregation collapses before the exchange at
    //      every level) — the reporting shape that otherwise triples the
    //      scan. NULLS FIRST pinned on both engines (default null order
    //      differs between Spark and DuckDB) ----
    "q138_rollup_revenue" -> ((s, dir) => {
      // SQL text, not the .rollup() Dataset API: sorting a rollup's output
      // by its grouping columns trips DetectAmbiguousSelfJoin (the grouping
      // outputs carry the join inputs' dataset lineage); SQL-resolved plans
      // carry no dataset-id metadata, and the plan is identical
      Tables.orders(s, dir).createOrReplaceTempView("q138_orders")
      Tables.customer(s, dir).createOrReplaceTempView("q138_customer")
      Tables.nation(s, dir).createOrReplaceTempView("q138_nation")
      Tables.region(s, dir).createOrReplaceTempView("q138_region")
      s.sql("""
        SELECT r_name, n_name, CAST(grouping_id() AS BIGINT) AS gid,
               count(*) AS n_orders, sum(cents) AS revenue_cents
        FROM (SELECT r_name, n_name, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM q138_orders o JOIN q138_customer cu ON o.o_custkey = cu.c_custkey
                   JOIN q138_nation n ON cu.c_nationkey = n.n_nationkey
                   JOIN q138_region r ON n.n_regionkey = r.r_regionkey) t
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY gid, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
    }),

    // ---- streaming inactivity detection on TWS EVENT-TIME TIMERS
    //      (StreamingInactivity): users quiet for 1 h of event time past
    //      their last event emit once when the watermark proves it — the
    //      churn/SLA primitive, via the engine's timer index instead of a
    //      periodic full state scan. Exact integer-ms boundary algebra on
    //      both engines (timers fire on timer_ms <= watermark_ms) ----
    "q139_stream_inactive" -> ((s, dir) => withStreamingConf(s) { s =>
      import s.implicits._
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .withWatermark("ts", "600 seconds")
        .select(col("user_id"), col("ts"),
          col("event_id"), col("event_type"), col("value"))
        .as[KeyedEvent]
      val qname = s"q139_out_${System.nanoTime()}"
      val q = StreamingInactivity.inactiveKeys(stream, gapMs = 3600000L)
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q139_ckpt_"))
        .start()
      q.awaitTermination()
      // update-mode collapse (q11/q134/q140 convention): under multi-batch
      // execution a user can fire, re-arm on a later event, and fire again —
      // the LAST emission per user is the answer, and max(last_ts) selects
      // it exactly (later fire ⇔ later last_ts)
      s.table(qname).groupBy("user_id").agg(max("last_ts").as("last_ts"))
        .orderBy("user_id")
    }),

    // ---- ONLINE-STORE BOOTSTRAP: latest-per-key warm-started from a batch
    //      snapshot via TWS INITIAL STATE (StreamingLatest.
    //      latestPerKeyBootstrapped). History before the cutover loads as
    //      initial state (one batch argmax — the offline store's snapshot);
    //      only post-cutover events stream. Union(bootstrap, emitted)
    //      re-collapsed == latest over ALL events — q01/q11's oracle
    //      verbatim, proving the handoff loses nothing ----
    "q140_latest_bootstrap" -> ((s, dir) => withStreamingConf(s) { s =>
      import s.implicits._
      val cutover = lit("2024-01-15 00:00:00").cast(TimestampType)
      val bootstrap = LatestPerKey.viaMaxBy(
          Tables.events(s, dir).filter(col("ts") < cutover),
          Seq("user_id"), "ts", Seq("event_id"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
        .as[KeyedEvent]
      val stream = s.readStream.schema(Tables.eventsSchema)
        .parquet(stageStreamDir(dir, "events"))
        .filter(col("ts") >= cutover)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
        .as[KeyedEvent]
      val qname = s"q140_out_${System.nanoTime()}"
      val q = StreamingLatest.latestPerKeyBootstrapped(stream, bootstrap)
        .writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmpDir("q140_ckpt_"))
        .start()
      q.awaitTermination()
      // keys quiet since the cutover never emit — the full snapshot is the
      // bootstrap frame overlaid with the emitted updates
      LatestPerKey.viaMaxBy(s.table(qname).unionByName(bootstrap.toDF()),
          Seq("user_id"), "ts", Seq("event_id"))
        .select(latestCols.map(col): _*).orderBy("user_id")
    }),

    // ---- fuzzy key self-join within edit distance 1 (FuzzyJoin.scala):
    //      deletion-neighborhood blocking (lossless for ED ≤ 1) + exact
    //      levenshtein verification on candidates only — the entity-
    //      resolution primitive without an all-pairs scan. The oracle
    //      brute-forces ALL pairs of the capped dictionary, so candidate
    //      COMPLETENESS is oracle-checked, not taken on faith ----
    "q141_fuzzy_join" -> ((s, dir) => {
      val nm = Tables.customer(s, dir).select(col("c_name")).distinct()
        .orderBy("c_name").limit(2000)
      FuzzyJoin.edit1SelfJoin(nm, "c_name")
        .orderBy("name_a", "name_b")
    }),

    // ---- one-scan all-columns exact profile (DataQuality.profile): the
    //      data-catalog primitive — per column: rows, nulls, EXACT distinct
    //      count, min/max in canonical cross-engine representations (cents
    //      for money, fixed datetime format). Six columns, ONE scan (the
    //      multi-distinct plans as a single Expand pass) ----
    "q142_column_profile" -> ((s, dir) => {
      DataQuality.profile(Tables.orders(s, dir), repr = Map(
        "o_totalprice" -> ((v: Column) => round(v * 100).cast("long").cast("string")),
        "o_orderdate" -> ((v: Column) => date_format(v, "yyyy-MM-dd HH:mm:ss"))))
        .orderBy("column")
    }),

    // ---- as-of join from SQL TEXT (AsOfSql.scala): the same point-in-time
    //      semantics as q04, but written as `LEFT JOIN ... ON asof_on(...)`
    //      and rewritten by the injected analyzer rule into the identical
    //      union-then-window plan — proving J2 is reachable from
    //      spark.sql(), not only the library API. Shares q04's oracle
    //      verbatim (same semantics by construction) ----
    "q133_asof_sql" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("q133_events")
      s.sql("""
        WITH v AS (SELECT event_id, user_id, ts, value FROM q133_events
                   WHERE event_type = 'view'),
             p AS (SELECT event_id, user_id, ts, value FROM q133_events
                   WHERE event_type = 'purchase')
        SELECT v.event_id, v.user_id, v.ts, v.value,
               asof_event_id, asof_value, asof_ts
        FROM v LEFT JOIN p
          ON asof_on(v.user_id, p.user_id, v.ts, p.ts, p.event_id)
        ORDER BY v.event_id""")
    }),

    // ---- the EXACT train/test frames the q25 ML loop fits on, row for row:
    //      same input filter, same na.drop, same content-addressed
    //      hashSplitBucket(concat(l_orderkey,'/',l_linenumber)) < 80 rule
    //      FeatureML applies. An auditable split beats a seed-matched one —
    //      the frames re-derive on any engine, forever, independent of RNG
    //      implementations (reference: historical_features.py:81 seed-42
    //      train_test_split, which only replays inside sklearn) ----
    "q143_ml_frames" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(pmod(col("l_orderkey"), lit(10)) === 0)
        .na.drop(Seq("l_quantity", "l_discount", "l_extendedprice"))
        .withColumn("bucket", GraftFunctions.hashSplitBucket(
          concat_ws("/", col("l_orderkey"), col("l_linenumber")), 100))
        .withColumn("split", when(col("bucket") < 80, "train").otherwise("test"))
        .select(col("l_orderkey"), col("l_linenumber"), col("split"),
          col("l_quantity"), col("l_discount"), col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- PageRank iterated to the EXACT integer stopping point (q129's
    //      graph family, Graph.pagerankIntConverged): delta == 0 is a
    //      meaningful stop rule only because scores are fixed-point
    //      integers — and on real graphs the floor map either PINS (true
    //      fixed point) or enters a ±1-unit PERIOD-2 CYCLE; which one is
    //      data-dependent (observed both ways across sf/damping here), so
    //      the operator detects both and reports which. Oracle contract
    //      (candidate-dump style, TWO frames): the last two iterates are
    //      dumped; DuckDB replays ONE step from xᵏ⁻¹ — matching xᵏ row-for-
    //      row proves the engines' step algebra agrees bit-for-bit — and
    //      re-derives the `converged` verdict itself (step(xᵏ⁻¹) == xᵏ⁻¹),
    //      so a wrong certification ALSO mismatches. No recursion needed ----
    "q144_pagerank_fixedpoint" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .filter(pmod(col("l_orderkey"), lit(4)) === 0)
        .groupBy("l_orderkey").agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .select(explode(expr(
          "flatten(transform(parts, (x, i) -> " +
            "transform(slice(parts, i + 2, size(parts)), y -> struct(x AS a, y AS b))))"))
          .as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
      val r = Graph.pagerankIntConverged(edges, maxIters = 40,
        dampNum = 1L, dampDen = 2L)
      r.prevScores.coalesce(1).write.mode("overwrite").parquet(aux(dir, "q144_prev"))
      r.scores.coalesce(1).write.mode("overwrite").parquet(aux(dir, "q144_scores"))
      // read the DUMP back so output and oracle input are the same bytes
      s.read.parquet(aux(dir, "q144_scores"))
        .orderBy(desc("x"), col("node")).limit(100)
        .select(col("node").cast("long").as("node"), col("x").cast("long").as("score"))
        .withColumn("converged", lit(r.converged))
    }),

    // ---- q127's prefix-filter join with the OPT-IN df-floor engaged
    //      (Dedup.prefixFilterJaccard prefixDfFloor): candidate buckets
    //      whose gram df exceeds 50 are dropped before pair expansion. The
    //      oracle mirrors the floor exactly, so the lossy lever itself sits
    //      under the correctness gate at every sf (measured trade on the
    //      shipped corpus: see MeasureQ127 / BASELINE.md) ----
    "q147_prefix_join_floored" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.prefixFilterJaccard(docs, "doc_id", "text",
        prefixDfFloor = Some(50L))
      Dedup.marksFromPairs(docs, "doc_id", pairs)
        .select(col("doc_id"), col("is_duplicate")).orderBy("doc_id")
    }),

    // ---- REAL image decode (Multimodal.pngAssets → decodeImageStats):
    //      genuine PNGs encoded AND parsed by javax.imageio inside the
    //      batched partition loop. The pixel pattern is closed-form
    //      ((id·31+x·7+y·13) mod 256 at (4+id%13)×(4+id%11)), so the oracle
    //      re-derives every decoded pixel arithmetically — the decode is
    //      bit-verified without DuckDB owning a codec ----
    "q145_image_decode" -> ((s, dir) => {
      // a deterministic third of the customers: the codec cost is linear
      // per image, so the subset proves the same thing for a third of the
      // bench wall (the mod-3 predicate is mirrored in the oracle)
      Multimodal.decodeImageStats(
          Multimodal.pngAssets(
            Tables.customer(s, dir).filter(pmod(col("c_custkey"), lit(3)) === 0),
            "c_custkey"))
        .select(col("asset_id"), col("width"), col("height"), col("sum_gray"))
        .orderBy("asset_id")
    }),

    // ---- REAL image resize (decode → nearest-neighbor → re-encode → decode
    //      again): src = ⌊dst·srcDim/dstDim⌋ is the exact mapping, so the
    //      oracle replays the whole decode→resize→decode chain in integer
    //      algebra over the same closed-form pattern ----
    "q146_image_resize" -> ((s, dir) => {
      Multimodal.decodeImageStats(
          Multimodal.resizeImagesReal(
            Multimodal.pngAssets(
              Tables.customer(s, dir).filter(pmod(col("c_custkey"), lit(3)) === 0),
              "c_custkey"), 8, 6))
        .select(col("asset_id"), col("width"), col("height"), col("sum_gray"))
        .orderBy("asset_id")
    }),

    // ---- REAL audio decode (Multimodal.wavAssets → segmentAudioReal):
    //      genuine RIFF/WAVE PCM16 payloads parsed by javax.sound.sampled
    //      inside the batched partition loop, cut into 100 ms windows, each
    //      window's exact integer energy (n_samples + Σ sample²) emitted.
    //      The PCM pattern is closed-form ((id·31+i·7) mod 2003 − 1001 over
    //      800+(id%7)·400 samples at 8 kHz), so the oracle re-derives every
    //      decoded sample arithmetically — the q145 contract for audio ----
    "q154_audio_decode" -> ((s, dir) => {
      Multimodal.segmentAudioReal(
          Multimodal.wavAssets(
            Tables.customer(s, dir).filter(pmod(col("c_custkey"), lit(3)) === 1),
            "c_custkey"), windowMs = 100L)
        .select("asset_id", "seg_idx", "seg_start_ms", "n_samples", "sum_sq")
        .orderBy("asset_id", "seg_idx")
    }),

    // ---- VAD-style silence filter over the REAL decode (q154 windows →
    //      audioActivity): active iff sum_sq ≥ threshold·n_samples in exact
    //      integer algebra. Threshold sits at the pattern's mean-square
    //      (~334 k), so verdicts split on real per-window fluctuations ----
    "q159_audio_activity" -> ((s, dir) => {
      Multimodal.audioActivity(
          Multimodal.segmentAudioReal(
            Multimodal.wavAssets(
              Tables.customer(s, dir).filter(pmod(col("c_custkey"), lit(3)) === 1),
              "c_custkey"), windowMs = 100L),
          thresholdMeanSq = 334000L)
        .orderBy("asset_id")
    }),

    // ---- REAL video-frame sampling (Multimodal.videoAssetsAvi →
    //      sampleFramesReal): genuine RIFF-AVI clips (PNG-in-AVI, 'MPNG' —
    //      lossless so the pixel oracle is exact; the same demuxer reads
    //      MJPEG), every 2nd frame genuinely decoded by javax.imageio,
    //      frame period read from the container's avih header.
    //      Pattern adds a frame term: (id·31+f·17+x·7+y·13) mod 256 ----
    "q156_video_frames" -> ((s, dir) => {
      Multimodal.sampleFramesReal(
          Multimodal.videoAssetsAvi(
            Tables.customer(s, dir).filter(pmod(col("c_custkey"), lit(3)) === 2),
            "c_custkey"), everyN = 2)
        .select("asset_id", "frame_idx", "ts_ms", "width", "height", "sum_gray")
        .orderBy("asset_id", "frame_idx")
    })
  )

  // ------------------------------------------------------------ oracle SQL

  /** q20's oracle, generated from [[TextAnalysis.Stopwords]] so the word
    * lists can never drift apart. */
  private val langIdOracle: String = {
    val langs = TextAnalysis.Stopwords.toSeq.sortBy(_._1)
    val hits = langs.map { case (lang, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, x -> x IN ($inList)))::DOUBLE / n AS s_$lang"
    }.mkString(",\n    ")
    val structs = langs.map { case (lang, _) => s"{'score': s_$lang, 'lang': '$lang'}" }.mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, text,
       |    list_transform(
       |      CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
       |           ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END,
       |      x -> regexp_replace(x, '[^\\p{L}]', '', 'g')) AS toks,
       |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{ac00}-\\x{d7af}]')) AS cjk
       |  FROM documents
       |), n0 AS (
       |  SELECT doc_id, text, cjk, toks, greatest(len(toks), 1)::DOUBLE AS n FROM t
       |), s AS (
       |  SELECT doc_id, text, cjk,
       |    $hits
       |  FROM n0
       |), m AS (
       |  SELECT doc_id, text, cjk, list_aggregate([$structs], 'max') AS best FROM s
       |)
       |SELECT doc_id,
       |  CASE WHEN cjk * 2 > length(text) THEN 'cjk'
       |       WHEN best.score = 0.0 THEN 'und'
       |       ELSE best.lang END AS lang_pred
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** q21's oracle, shared verbatim by the q51 curation composition. */
  /** Incremental-minhash marks re-derivation (q55 and its streaming twin
    * q72): candidates + new-batch tags from the dump, shingle-Jaccard
    * verification, index-canonical orientation, and the odd-doc marks. */
  /** The candidate-dump ANN contract shared by the whole vector-retrieval
    * family (IVF / LSH / int8 two-stage / PQ / IVFADC, batch and indexed and
    * streaming): candidate generation is engine-specific, so the engine
    * dumps (query_id, nbr_id) shortlists and DuckDB re-ranks them by EXACT
    * cosine with the (cosine DESC, nbr_id) tie-break — any stale/corrupt
    * code, codebook, probe, or lost/duplicated appended vector that perturbs
    * the shortlist CONTENTS is visible, and the rerank math is bit-checked.
    * `glob` is `**` for streaming dumps that accumulate per micro-batch. */
  private def cosineRerankOracle(candDump: String, glob: String = "*"): String =
    s"""WITH cand AS (SELECT DISTINCT query_id, nbr_id FROM read_parquet('{AUX}/$candDump/$glob.parquet')),
       |scored AS (
       |  SELECT query_id, nbr_id,
       |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
       |                                     nbr_id) AS nbr_rank
       |  FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
       |            JOIN embeddings c ON c.vec_id = cand.nbr_id)
       |SELECT query_id, CAST(nbr_rank AS BIGINT) AS nbr_rank, nbr_id, cosine
       |FROM scored WHERE nbr_rank <= 5 ORDER BY query_id, nbr_rank""".stripMargin

  /** q212/q213 oracle: dumped candidates + direction tags, exact 3-shingle
    * containment verified from the reconstructed corpus (documents +
    * planted composites), the 9/10 integer threshold replayed. */
  private def containmentIncrementalOracle(candGlob: String): String =
    s"""WITH cand AS (
       |  SELECT id_a, id_b, new_a, new_b
       |  FROM read_parquet('{AUX}/$candGlob')
       |), corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT a.doc_id + 1000000 AS doc_id, a.text || ' ' || b.text AS text
       |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
       |  WHERE a.doc_id % 37 = 0
       |), t0 AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM corpus WHERE length(trim(lower(text))) > 0
       |), l AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(len(toks) - 2),
       |                             i -> array_to_string(toks[i+1:i+3], ' ')) END) AS sh
       |  FROM t0
       |), j AS (
       |  SELECT id_a, id_b, new_a, new_b,
       |         len(list_intersect(la.sh, lb.sh)) AS inter, len(lb.sh) AS sz_b
       |  FROM cand JOIN l la ON la.doc_id = cand.id_a
       |            JOIN l lb ON lb.doc_id = cand.id_b
       |)
       |SELECT id_a AS container_id, id_b AS contained_id,
       |  new_a AS new_container, new_b AS new_contained,
       |  CAST(inter AS BIGINT) AS inter, CAST(sz_b AS BIGINT) AS sz_contained,
       |  round(inter::DOUBLE / sz_b::DOUBLE, 6) AS containment
       |FROM j WHERE 10 * inter >= 9 * sz_b
       |ORDER BY container_id, contained_id""".stripMargin

  private def incrementalMinhashOracle(candDump: String): String =
    s"""WITH cand AS (
       |  SELECT id_a, id_b, new_a, new_b FROM read_parquet('{AUX}/$candDump/**/*.parquet')
       |), t AS (
       |  SELECT doc_id,
       |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, list_distinct(
       |    CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' ')) END) AS shingles
       |  FROM t
       |), j AS (
       |  SELECT id_a, id_b, new_a, new_b,
       |    round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
       |          len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE, 6) AS jaccard
       |  FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh b ON b.doc_id = cand.id_b
       |), drops AS (
       |  SELECT DISTINCT CASE WHEN new_a AND NOT new_b THEN id_a ELSE id_b END AS doc_id
       |  FROM j WHERE jaccard >= 0.5
       |)
       |SELECT d.doc_id, coalesce(dup.is_dup, false) AS is_duplicate
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
       |LEFT JOIN (SELECT doc_id, true AS is_dup FROM drops) dup USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** q63's full oracle; q69 embeds it as a CTE with the ORDER BY stripped
    * (same reuse pattern as qualityOracle in q51). */
  private val repetitionOracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks,
      |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
      |                l -> length(l) > 0) AS lines
      |  FROM documents
      |), b AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(len(toks) - 1), i -> toks[i + 1] || ' ' || toks[i + 2])) AS bigram
      |  FROM t WHERE len(toks) >= 2
      |), c AS (
      |  SELECT doc_id, bigram, count(*) AS cnt FROM b GROUP BY 1, 2
      |), m AS (
      |  SELECT doc_id, max(cnt) AS top_cnt FROM c GROUP BY 1
      |), r AS (
      |  SELECT t.doc_id,
      |    CAST(len(lines) AS BIGINT) AS n_lines,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CASE WHEN len(lines) = 0 THEN CAST(0.0 AS DOUBLE)
      |         ELSE (len(lines)::DOUBLE - len(list_distinct(lines))::DOUBLE) / len(lines)::DOUBLE
      |    END AS dup_line_frac,
      |    CAST(coalesce(m.top_cnt, 0) AS BIGINT) AS top_bigram_cnt,
      |    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
      |         ELSE CAST(2.0 AS DOUBLE) * coalesce(m.top_cnt, 0)::DOUBLE / len(toks)::DOUBLE
      |    END AS top_bigram_frac
      |  FROM t LEFT JOIN m ON m.doc_id = t.doc_id
      |)
      |SELECT doc_id, n_lines, n_tokens, dup_line_frac, top_bigram_cnt, top_bigram_frac,
      |  (dup_line_frac <= CAST(0.30 AS DOUBLE) AND top_bigram_frac <= CAST(0.20 AS DOUBLE)) AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  private val qualityOracle: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents
      |), m AS (
      |  SELECT doc_id, text, toks,
      |    len(toks)::DOUBLE AS n,
      |    greatest(length(text), 1)::DOUBLE AS chars
      |  FROM t
      |), x AS (
      |  SELECT doc_id, n,
      |    CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE)
      |         ELSE list_aggregate(list_transform(toks, s -> length(s)), 'sum')::DOUBLE / greatest(n, CAST(1.0 AS DOUBLE)) END AS mean_len,
      |    len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / chars AS alpha_ratio,
      |    len(regexp_extract_all(text, '[[:punct:]]'))::DOUBLE / chars AS punct_ratio,
      |    CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE)
      |         ELSE len(list_distinct(toks))::DOUBLE / greatest(n, CAST(1.0 AS DOUBLE)) END AS distinct_ratio
      |  FROM m
      |)
      |SELECT doc_id,
      |  (CASE WHEN n >= 50 AND n <= 100000 THEN CAST(1.0 AS DOUBLE)
      |        WHEN n >= 10 THEN CAST(0.6 AS DOUBLE)
      |        WHEN n >= 3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
      |  + (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.4 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
      |  + alpha_ratio * CAST(0.2 AS DOUBLE)
      |  + (CASE WHEN punct_ratio <= CAST(0.2 AS DOUBLE) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.3 AS DOUBLE) END) * CAST(0.1 AS DOUBLE)
      |  + distinct_ratio * CAST(0.2 AS DOUBLE) AS quality
      |FROM x ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q01_latest_maxby" -> latestOracle,

    // every event carries its user's latest value (q01's argmax convention)
    "q161_stream_enrich" ->
      """WITH latest AS (
        |  SELECT user_id, value AS latest_value FROM (
        |    SELECT user_id, value,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) t
        |  WHERE rn = 1)
        |SELECT e.event_id, e.user_id, e.value, l.latest_value
        |FROM events e JOIN latest l USING (user_id)
        |ORDER BY e.event_id""".stripMargin,
    "q02_latest_window" -> latestOracle,
    "q41_latest_salted" -> latestOracle,
    "q10_feature_store_e2e" -> latestOracle,
    "q11_streaming_latest" -> latestOracle,
    "q134_latest_tws" -> latestOracle,
    "q140_latest_bootstrap" -> latestOracle,

    // per-column UNION ALL re-derivation; reprs mirrored exactly (cents,
    // fixed datetime format, plain casts)
    "q142_column_profile" -> {
      val profCols = Seq(
        ("o_orderkey", "CAST(min(o_orderkey) AS VARCHAR)", "CAST(max(o_orderkey) AS VARCHAR)"),
        ("o_custkey", "CAST(min(o_custkey) AS VARCHAR)", "CAST(max(o_custkey) AS VARCHAR)"),
        ("o_orderstatus", "min(o_orderstatus)", "max(o_orderstatus)"),
        ("o_totalprice", "CAST(CAST(round(min(o_totalprice) * 100) AS BIGINT) AS VARCHAR)",
          "CAST(CAST(round(max(o_totalprice) * 100) AS BIGINT) AS VARCHAR)"),
        ("o_orderdate", "strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S')",
          "strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')"),
        ("o_orderpriority", "min(o_orderpriority)", "max(o_orderpriority)"))
      profCols.map { case (c, mn, mx) =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  $mn AS min_repr, $mx AS max_repr FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    // full brute force over the capped dictionary — candidate completeness
    // of the deletion-neighborhood blocking is verified, not sampled
    "q141_fuzzy_join" ->
      """WITH nm AS (SELECT DISTINCT c_name FROM customer ORDER BY c_name LIMIT 2000)
        |SELECT a.c_name AS name_a, b.c_name AS name_b
        |FROM nm a JOIN nm b ON a.c_name < b.c_name
        |                   AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,

    "q135_stream_topk" ->
      """SELECT user_id, CAST(rn AS BIGINT) AS rank, value, event_id FROM (
        |  SELECT user_id, value, event_id,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY value DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase') t
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,

    "q136_variant_json" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(k) AS BIGINT) AS sum_k,
        |       CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
        |       CAST(count(DISTINCT k) AS BIGINT) AS n_k
        |FROM (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events) t
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q137_stream_profile" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    // integer-ms replay of the timer boundary: watermark_ms = floor_ms(max
    // event ts) - 600000; a user fires iff floor_ms(last_ts) + 3600000 <=
    // watermark_ms (Spark fires timers on timer_ms <= watermark_ms)
    "q139_stream_inactive" ->
      """WITH mx AS (SELECT epoch_us(max(ts)) // 1000 AS max_ms FROM events),
        |l AS (SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id)
        |SELECT user_id, last_ts FROM l CROSS JOIN mx
        |WHERE epoch_us(last_ts) // 1000 + 3600000 <= max_ms - 600000
        |ORDER BY user_id""".stripMargin,

    "q138_rollup_revenue" ->
      """SELECT r_name, n_name,
        |       CAST(CASE WHEN GROUPING(r_name) = 1 THEN 3
        |                 WHEN GROUPING(n_name) = 1 THEN 1 ELSE 0 END AS BIGINT) AS gid,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM (SELECT r_name, n_name, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |      FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
        |                    JOIN nation n ON cu.c_nationkey = n.n_nationkey
        |                    JOIN region r ON n.n_regionkey = r.r_regionkey) t
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q03_time_range" ->
      """SELECT event_id, user_id, ts, value FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 23:59:59'
        |ORDER BY event_id""".stripMargin,

    // q03's range read, pinned at the first of two ingests: seq-1 held
    // exactly the even event_ids, so the pin replays as that membership
    // predicate — batch 2's rows were committed before the read ran and
    // must not appear
    "q231_time_travel" ->
      """SELECT event_id, user_id, ts, value FROM events
        |WHERE event_id % 2 = 0
        |  AND ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 23:59:59'
        |ORDER BY event_id""".stripMargin,

    "q04_asof_join" -> asofOracle,
    // identical semantics, bucketed physical plan — shares q04's oracle
    "q60_asof_bucketed" -> asofOracle,

    "q61_bucketed_join" ->
      """SELECT c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q05_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM x
        |)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM y GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q06_topn_per_key" ->
      """SELECT user_id, rn, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,

    "q07_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_pct,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q08_join_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |            JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q09_point_lookup" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND user_id = 42""".stripMargin,

    "q12_dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin,

    // candidate generation (xxhash64 minhash bands) is not ANSI-expressible;
    // the dumped candidate pairs are, and everything AFTER generation —
    // word-5-shingling, exact Jaccard, threshold, marks — is re-derived here
    // from scratch (same shingle rule as GraftFunctions.wordShingles)
    "q13_dedup_minhash" ->
      """WITH cand AS (
        |  SELECT id_a, id_b FROM read_parquet('{AUX}/q13_candidates/*.parquet')
        |), t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' ')) END) AS shingles
        |  FROM t
        |), j AS (
        |  SELECT id_a, id_b,
        |    round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |          len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE, 6) AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh b ON b.doc_id = cand.id_b
        |)
        |SELECT d.doc_id, coalesce(dup.is_dup, false) AS is_duplicate
        |FROM documents d
        |LEFT JOIN (SELECT DISTINCT id_b AS doc_id, true AS is_dup FROM j WHERE jaccard >= 0.5) dup
        |  USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // incremental minhash: candidates + new-batch tags from the dump; the
    // shingle-Jaccard verification, the incremental keep/drop orientation
    // (index-canonical), and the marks re-derived from scratch
    "q55_dedup_incremental" -> incrementalMinhashOracle("q55_candidates"),

    // identical semantics to q55 by construction — the same incremental
    // index flow driven through foreachBatch; only the candidate dump
    // differs (its own run's candidates)
    "q72_stream_dedup_index" -> incrementalMinhashOracle("q72_candidates"),

    // simhash values come from the dump (xxhash64-derived), but the hamming
    // distance, the radius filter and the marks are re-derived
    "q14_dedup_simhash" ->
      """WITH cand AS (SELECT * FROM read_parquet('{AUX}/q14_candidates/*.parquet')),
        |h AS (SELECT id_a, id_b, bit_count(xor(sh_a, sh_b)) AS hamming FROM cand)
        |SELECT d.doc_id, coalesce(dup.is_dup, false) AS is_duplicate
        |FROM documents d
        |LEFT JOIN (SELECT DISTINCT id_b AS doc_id, true AS is_dup FROM h WHERE hamming <= 3) dup
        |  USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // candidate ids from the dump; the cosine verification is recomputed
    // from the STORED vectors (list_cosine_similarity bit-matches the native
    // CosineSimilarity expression — established by q17), plus the marks
    "q16_dedup_embedding" ->
      """WITH cand AS (SELECT id_a, id_b FROM read_parquet('{AUX}/q16_candidates/*.parquet')),
        |c AS (
        |  SELECT id_a, id_b,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        |  FROM cand JOIN embeddings a ON a.vec_id = cand.id_a
        |            JOIN embeddings b ON b.vec_id = cand.id_b)
        |SELECT e.vec_id, coalesce(dup.is_dup, false) AS is_duplicate
        |FROM embeddings e
        |LEFT JOIN (SELECT DISTINCT id_b AS vec_id, true AS is_dup FROM c WHERE cosine >= 0.9) dup
        |  USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // same re-derivation as q16, over the KMeans-cell candidates: the oracle
    // is agnostic to HOW candidates were generated — it independently
    // verifies every claimed pair and reconstructs the marks
    // q67's verification contract over the two-level quantizer's candidates
    "q150_semantic_two_level" ->
      """WITH cand AS (SELECT id_a, id_b FROM read_parquet('{AUX}/q150_candidates/*.parquet')),
        |c AS (
        |  SELECT id_a, id_b,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        |  FROM cand JOIN embeddings a ON a.vec_id = cand.id_a
        |            JOIN embeddings b ON b.vec_id = cand.id_b)
        |SELECT e.vec_id, coalesce(dup.is_dup, false) AS is_duplicate
        |FROM embeddings e
        |LEFT JOIN (SELECT DISTINCT id_b AS vec_id, true AS is_dup FROM c WHERE cosine >= 0.9) dup
        |  USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    "q67_dedup_semantic" ->
      """WITH cand AS (SELECT id_a, id_b FROM read_parquet('{AUX}/q67_candidates/*.parquet')),
        |c AS (
        |  SELECT id_a, id_b,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        |  FROM cand JOIN embeddings a ON a.vec_id = cand.id_a
        |            JOIN embeddings b ON b.vec_id = cand.id_b)
        |SELECT e.vec_id, coalesce(dup.is_dup, false) AS is_duplicate
        |FROM embeddings e
        |LEFT JOIN (SELECT DISTINCT id_b AS vec_id, true AS is_dup FROM c WHERE cosine >= 0.9) dup
        |  USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // the STREAMED semantic flow shares q70's derivation exactly — the
    // oracle is agnostic to how the new side was micro-batched
    "q152_stream_semantic" ->
      """WITH cand AS (
        |  SELECT id_a, id_b, new_a, new_b FROM read_parquet('{AUX}/q152_candidates/**/*.parquet')
        |), c AS (
        |  SELECT id_a, id_b, new_a, new_b,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        |  FROM cand JOIN embeddings a ON a.vec_id = cand.id_a
        |            JOIN embeddings b ON b.vec_id = cand.id_b
        |), drops AS (
        |  SELECT DISTINCT CASE WHEN new_a AND NOT new_b THEN id_a ELSE id_b END AS vec_id
        |  FROM c WHERE cosine >= CAST(0.9 AS DOUBLE)
        |)
        |SELECT e.vec_id, coalesce(d.is_dup, false) AS is_duplicate
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 1) e
        |LEFT JOIN (SELECT vec_id, true AS is_dup FROM drops) d USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // incremental semantic: cosine verification, index-canonical keep/drop
    // orientation, and the new-batch marks re-derived from the tagged dump
    "q70_semantic_incremental" ->
      """WITH cand AS (
        |  SELECT id_a, id_b, new_a, new_b FROM read_parquet('{AUX}/q70_candidates/*.parquet')
        |), c AS (
        |  SELECT id_a, id_b, new_a, new_b,
        |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        |  FROM cand JOIN embeddings a ON a.vec_id = cand.id_a
        |            JOIN embeddings b ON b.vec_id = cand.id_b
        |), drops AS (
        |  SELECT DISTINCT CASE WHEN new_a AND NOT new_b THEN id_a ELSE id_b END AS vec_id
        |  FROM c WHERE cosine >= CAST(0.9 AS DOUBLE)
        |)
        |SELECT e.vec_id, coalesce(d.is_dup, false) AS is_duplicate
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 2 = 1) e
        |LEFT JOIN (SELECT vec_id, true AS is_dup FROM drops) d USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    "q15_dedup_ngram" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(
        |      CASE WHEN length(lower(text)) <= 8 THEN [lower(text)]
        |           ELSE list_transform(range(length(lower(text)) - 7),
        |                               i -> substr(lower(text), CAST(i + 1 AS INTEGER), 8)) END) AS grams
        |  FROM documents
        |), inv0 AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g
        |), inv AS (
        |  -- document-frequency cap mirrors the Spark-side maxBucket skew guard
        |  SELECT doc_id, gram FROM (
        |    SELECT doc_id, gram, count(*) OVER (PARTITION BY gram) AS df FROM inv0)
        |  WHERE df <= 64
        |), cand AS (
        |  -- co-occurrence floor mirrors the Spark-side minMatch=3
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), j AS (
        |  SELECT id_a, id_b,
        |    round(len(list_intersect(ga.grams, gb.grams))::DOUBLE /
        |          len(list_distinct(list_concat(ga.grams, gb.grams)))::DOUBLE, 6) AS jaccard
        |  FROM cand
        |  JOIN g ga ON ga.doc_id = cand.id_a
        |  JOIN g gb ON gb.doc_id = cand.id_b
        |)
        |SELECT d.doc_id, coalesce(dup.is_dup, false) AS is_duplicate
        |FROM documents d
        |LEFT JOIN (SELECT DISTINCT id_b AS doc_id, true AS is_dup FROM j WHERE jaccard >= 0.5) dup
        |  USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // fully re-derived: the md5 split, the capped inverted index over BOTH
    // sides, the cross-side shared-gram counts, and the per-test-doc rollup
    "q56_decontaminate" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents
        |), lab AS (
        |  SELECT doc_id, text, CASE WHEN bucket < 80 THEN 0 ELSE 1 END AS side
        |  FROM b WHERE bucket < 80 OR bucket >= 90
        |), g AS (
        |  SELECT doc_id, side,
        |    unnest(list_distinct(
        |      CASE WHEN length(lower(text)) <= 8 THEN [lower(text)]
        |           ELSE list_transform(range(length(lower(text)) - 7),
        |                               i -> substr(lower(text), CAST(i + 1 AS INTEGER), 8)) END)) AS gram
        |  FROM lab
        |), inv AS (
        |  SELECT doc_id, side, gram FROM (
        |    SELECT doc_id, side, gram, count(*) OVER (PARTITION BY gram) AS df FROM g)
        |  WHERE df <= 64
        |), p AS (
        |  SELECT a.doc_id AS train_id, bb.doc_id AS test_id, count(*) AS n_shared
        |  FROM inv a JOIN inv bb ON a.gram = bb.gram AND a.side = 0 AND bb.side = 1
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), agg AS (
        |  SELECT test_id AS doc_id, CAST(count(*) AS BIGINT) AS n_contaminating,
        |         CAST(max(n_shared) AS BIGINT) AS max_shared
        |  FROM p GROUP BY 1
        |)
        |SELECT d.doc_id, coalesce(agg.n_contaminating, 0) AS n_contaminating,
        |       coalesce(agg.max_shared, 0) AS max_shared
        |FROM (SELECT doc_id FROM b WHERE bucket >= 90) d
        |LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q56's gram split, ratio form: every distinct 8-gram of a test doc
    // probed against the train side's full distinct gram set — raw strings
    // here, 60-bit xxhash in the engine (the documented noise floor)
    "q175_contamination_ratio" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents
        |), lab AS (
        |  SELECT doc_id, text, CASE WHEN bucket < 80 THEN 0 ELSE 1 END AS side
        |  FROM b WHERE bucket < 80 OR bucket >= 90
        |), g AS (
        |  SELECT doc_id, side,
        |    unnest(list_distinct(
        |      CASE WHEN length(lower(text)) <= 8 THEN [lower(text)]
        |           ELSE list_transform(range(length(lower(text)) - 7),
        |                               i -> substr(lower(text), CAST(i + 1 AS INTEGER), 8)) END)) AS gram
        |  FROM lab
        |), train AS (SELECT DISTINCT gram FROM g WHERE side = 0
        |), per AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |         sum(CASE WHEN gram IN (SELECT gram FROM train) THEN 1 ELSE 0 END) AS n_seen
        |  FROM g WHERE side = 1 GROUP BY doc_id
        |)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |       CAST(n_seen AS BIGINT) AS n_seen,
        |       round(n_seen::DOUBLE / n_grams::DOUBLE, 6) AS ratio
        |FROM per ORDER BY doc_id""".stripMargin,

    // multi-query BM25 from the raw corpus — the SQL knows nothing about
    // the index (postings/df/stats are just reformulations of corpus
    // statistics, so index-served scores must equal the direct computation
    // bit-for-bit). Same literals and associativity as q174; the per-
    // (query, doc) score folds contributions in ascending 60-bit term_id
    // order on BOTH sides (sort_array+aggregate there, list_sort+
    // list_reduce here) — contributions are strictly positive, so the
    // engine's 0.0 fold init is exact
    "q176_bm25_serve" -> bm25MultiQueryOracle(
      """(1, ['spark', 'window']),
        |    (2, ['hash', 'join', 'scan']),
        |    (3, ['dup', 'merge']),
        |    (4, ['vector', 'stream', 'filter', 'batch'])""".stripMargin),

    // the q176 oracle over a DIFFERENT query set: the engine side built the
    // index incrementally (base + day-2 batch + compaction), so equality
    // against the batch-agnostic SQL proves df/stats partial additivity and
    // the compaction fold
    "q177_bm25_append" -> bm25MultiQueryOracle(
      """(1, ['customer', 'order']),
        |    (2, ['dup', 'slow']),
        |    (3, ['query', 'table', 'column'])""".stripMargin),

    // the watchlist unrolled as VALUES; a (doc, phrase, start) where all m
    // term indices appear is a match — count(DISTINCT term_idx) = m
    "q195_phrase_watchlist" -> phraseWatchlistOracle(
      """(0, 0, 'window'), (0, 1, 'join'),
        |    (1, 0, 'order'), (1, 1, 'fast'),
        |    (2, 0, 'dup'),
        |    (3, 0, 'big'), (3, 1, 'data'), (3, 2, 'slow')""".stripMargin, ""),

    // q195's contract over the streamed (odd-id) subset
    "q196_stream_phrase_alert" -> phraseWatchlistOracle(
      """(0, 0, 'window'), (0, 1, 'join'),
        |    (1, 0, 'dup')""".stripMargin,
      "WHERE doc_id % 2 = 1"),

    // DuckDB retrains the bigram LM from the raw corpus and replays the
    // scoring bit-for-bit — see lmPerplexityOracle
    "q197_lm_perplexity" -> lmPerplexityOracle(
      trainPred = "bucket < 80", scorePred = "bucket >= 90",
      select = "SELECT doc_id, n_bigrams, logppl FROM scored ORDER BY doc_id"),

    // IDENTICAL oracle to q197: the persisted/incremental/compacted index is
    // invisible to the SQL, so a match proves fit-free serving equals
    // whole-corpus training exactly
    "q198_lm_ppl_serve" -> lmPerplexityOracle(
      trainPred = "bucket < 80", scorePred = "bucket >= 90",
      select = "SELECT doc_id, n_bigrams, logppl FROM scored ORDER BY doc_id"),

    // the gate's accept set: scoring + threshold over the whole streamed
    // slice — micro-batching is invisible
    "q199_stream_ppl_gate" -> lmPerplexityOracle(
      trainPred = "bucket < 80", scorePred = "bucket >= 90",
      select = "SELECT doc_id, lang, source FROM scored " +
        s"WHERE n_bigrams > 0 AND logppl <= $QppGateThreshold ORDER BY doc_id"),

    // whole-corpus scoring, then ONE global rank (the oracle's single
    // window is the reference the engine's distributed prefix count must
    // reproduce exactly) + the integer tercile rule
    "q200_ppl_terciles" -> lmPerplexityOracle(
      trainPred = "bucket < 80", scorePred = "TRUE",
      select = """, ranked AS (
        |  SELECT doc_id, n_bigrams, logppl,
        |    CAST(row_number() OVER (ORDER BY logppl, doc_id) AS BIGINT) AS ppl_rank,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM scored WHERE n_bigrams > 0
        |)
        |SELECT doc_id, n_bigrams, logppl, ppl_rank,
        |  CASE WHEN ppl_rank * 3 <= n THEN 'head'
        |       WHEN ppl_rank * 3 <= n * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM ranked ORDER BY doc_id""".stripMargin),

    // the augmented corpus rebuilt literally, then the identical line rule:
    // trim + 60-bit md5 ids, distinct-doc df, df > 10 removed, ordered
    // reconstruction — byte-for-byte including clean_text
    "q203_boilerplate_lines" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'SUBSCRIBE TO OUR NEWSLETTER' || chr(10) || chr(10) || text || chr(10) || '(c) 2026 example corp - all rights reserved'
        |         WHEN doc_id % 3 = 1 THEN 'SUBSCRIBE TO OUR NEWSLETTER' || chr(10) || text
        |         ELSE text END AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS lines FROM aug
        |), e AS (
        |  SELECT doc_id, p, lines[p + 1] AS line FROM (
        |    SELECT doc_id, lines, unnest(generate_series(0, len(lines) - 1)) AS p FROM l)
        |), h AS (
        |  SELECT doc_id, p, line,
        |    CASE WHEN length(trim(line)) > 0
        |         THEN ('0x' || substr(md5(trim(line)), 1, 15))::BIGINT END AS line_id
        |  FROM e
        |), boiler AS (
        |  SELECT line_id FROM (
        |    SELECT line_id, count(DISTINCT doc_id) AS nd FROM h
        |    WHERE line_id IS NOT NULL GROUP BY 1)
        |  WHERE nd > 10
        |), marked AS (
        |  SELECT doc_id, p, line,
        |    (line_id IS NOT NULL AND line_id IN (SELECT line_id FROM boiler)) AS rm
        |  FROM h
        |), per AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    coalesce(array_to_string(list(line ORDER BY p) FILTER (WHERE NOT rm), chr(10)), '') AS clean_text
        |  FROM marked GROUP BY doc_id
        |)
        |SELECT doc_id, n_lines, n_removed, clean_text FROM per ORDER BY doc_id""".stripMargin,

    // the full ExactSubstr rule replayed: same 20-token windows, 60-bit
    // ids, canonical = row_number 1 over (doc_id, pos), covered-token
    // expansion, byte-for-byte reconstruction of the kept stream
    "q218_remove_dup_spans" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text
        |         WHEN doc_id % 7 = 1 THEN 'this exact template sentence carries twenty four whole space separated words so every twenty token window inside it collides across the planted documents' || ' ' || text
        |         ELSE text END AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM aug
        |), sp AS (
        |  SELECT doc_id, p,
        |    ('0x' || substr(md5(array_to_string(toks[p+1:p+20], ' ')), 1, 15))::BIGINT AS sh
        |  FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 20)) AS p
        |        FROM t WHERE len(toks) >= 20)
        |), mark AS (
        |  SELECT doc_id, p,
        |    row_number() OVER (PARTITION BY sh ORDER BY doc_id, p) > 1 AS rm
        |  FROM sp
        |), rmtok AS (
        |  SELECT DISTINCT doc_id, p + i AS tp
        |  FROM mark, unnest(generate_series(0, 19)) AS u(i) WHERE rm
        |), e AS (
        |  SELECT doc_id, i, toks[i+1] AS tok FROM (
        |    SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1)) AS i
        |    FROM t WHERE len(toks) > 0)
        |), kept AS (
        |  SELECT e.doc_id, e.i, e.tok, (r.doc_id IS NOT NULL) AS rm
        |  FROM e LEFT JOIN rmtok r ON r.doc_id = e.doc_id AND r.tp = e.i
        |), per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    coalesce(array_to_string(list(tok ORDER BY i) FILTER (WHERE NOT rm), ' '), '') AS clean_text
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(per.n_tokens, 0) AS n_tokens,
        |  coalesce(per.n_removed, 0) AS n_removed,
        |  coalesce(per.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // q218's detection verbatim; reconstruction replayed in closed window
    // form — joiner per kept token: '' when no kept token precedes it, the
    // ORIGINAL separator when its left neighbor was kept, one space across
    // a cut — exactly the engine's ordered fold unrolled. (A list_reduce
    // replay of the fold itself tripped a DuckDB 1.0 vectorization bug:
    // struct-accumulator results leak across rows past ~hundreds of
    // groups; the window form is equivalent and stable.)
    "q228_exactsubstr_faithful" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text
        |         WHEN doc_id % 7 = 1 THEN 'this exact template sentence carries twenty four whole space separated words so every twenty token window inside it collides across the planted documents' || ' ' || text
        |         ELSE text END AS text
        |  FROM documents
        |), t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks,
        |    regexp_extract_all(trim(text), '\s+') AS seps
        |  FROM aug
        |), sp AS (
        |  SELECT doc_id, p,
        |    ('0x' || substr(md5(array_to_string(toks[p+1:p+20], ' ')), 1, 15))::BIGINT AS sh
        |  FROM (SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 20)) AS p
        |        FROM t WHERE len(toks) >= 20)
        |), mark AS (
        |  SELECT doc_id, p,
        |    row_number() OVER (PARTITION BY sh ORDER BY doc_id, p) > 1 AS rm
        |  FROM sp
        |), rmtok AS (
        |  SELECT DISTINCT doc_id, p + i AS tp
        |  FROM mark, unnest(generate_series(0, 19)) AS u(i) WHERE rm
        |), e AS (
        |  SELECT doc_id, i, toks[i+1] AS tok,
        |    CASE WHEN i = 0 THEN '' ELSE seps[i] END AS sb
        |  FROM (
        |    SELECT doc_id, toks, seps, unnest(generate_series(0, len(toks) - 1)) AS i
        |    FROM t WHERE len(toks) > 0)
        |), kept AS (
        |  SELECT e.doc_id, e.i, e.tok, e.sb, (r.doc_id IS NOT NULL) AS rm
        |  FROM e LEFT JOIN rmtok r ON r.doc_id = e.doc_id AND r.tp = e.i
        |), marked AS (
        |  SELECT doc_id, i, tok, sb, rm,
        |    coalesce(sum(CASE WHEN rm THEN 0 ELSE 1 END)
        |      OVER (PARTITION BY doc_id ORDER BY i
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS kept_before,
        |    coalesce(lag(rm) OVER (PARTITION BY doc_id ORDER BY i), true) AS prev_rm
        |  FROM kept
        |), per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    coalesce(string_agg(
        |      CASE WHEN NOT rm THEN
        |        (CASE WHEN kept_before = 0 THEN ''
        |              WHEN NOT prev_rm THEN sb
        |              ELSE ' ' END) || tok END, '' ORDER BY i), '') AS clean_text
        |  FROM marked GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(per.n_tokens, 0) AS n_tokens,
        |  coalesce(per.n_removed, 0) AS n_removed,
        |  coalesce(per.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // the streamed generations + compaction are invisible: the whole
    // events table, plainly aggregated
    "q224_stream_zonemap" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // write/append/compact are invisible to semantics: the whole table,
    // plainly filtered
    "q223_zonemap_lifecycle" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '1998-12-31 23:59:59'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the plain point lookup — bloom shard stats invisible to semantics
    "q222_zonemap_point" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem)
        |ORDER BY l_linenumber, l_quantity, l_shipdate""".stripMargin,

    // pre-compaction and post-compaction point reads both return every
    // holding row — the union is the plain point select twice over
    "q227_zonemap_bloom_lifecycle" ->
      """WITH hit AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |  FROM lineitem
        |  WHERE l_orderkey = (SELECT max(l_orderkey) FROM lineitem))
        |SELECT * FROM (SELECT * FROM hit UNION ALL SELECT * FROM hit)
        |ORDER BY l_linenumber, l_quantity, l_shipdate""".stripMargin,

    // the z-order layout is invisible to semantics: the plain 2-D box
    "q229_zonemap_zorder" ->
      """SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem
        |WHERE l_partkey >= 0 AND l_partkey <= 400
        |  AND l_suppkey >= 0 AND l_suppkey <= 40
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    // the plain range aggregate — shard maps are invisible to semantics
    "q221_zonemap_scan" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity), 6) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '1997-12-31 23:59:59'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // seen-in-index OR earlier-in-batch, replayed whole in SQL
    "q225_paragraph_dedup_incremental" -> paragraphDedupIncrementalOracle,
    "q226_stream_paragraph_dedup" -> paragraphDedupIncrementalOracle,

    // the split replayed whole: index = even docs' distinct window hashes,
    // batch = odd docs; removed iff seen-in-index OR an earlier batch
    // occurrence exists — no dumps, the rule is pure SQL
    "q219_span_dedup_incremental" -> spanDedupIncrementalOracle,

    // identical SQL: correct streaming = the batch semantics with the
    // micro-batching invisible
    "q220_stream_span_dedup" -> spanDedupIncrementalOracle,

    // the canonical-occurrence rule replayed: same 60-bit paragraph ids,
    // winner = row_number 1 over (doc_id, pos), whitespace-only paragraphs
    // immune, byte-for-byte reconstruction
    "q216_paragraph_dedup" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || chr(10) || 'every fifth document shares this exact template paragraph'
        |         WHEN doc_id % 5 = 1 THEN 'every fifth document shares this exact template paragraph' || chr(10) || chr(10) || text || chr(10) || chr(10) || text
        |         ELSE text END AS text
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, string_split(text, chr(10) || chr(10)) AS paras FROM aug
        |), e AS (
        |  SELECT doc_id, p, paras[p + 1] AS para FROM (
        |    SELECT doc_id, paras, unnest(generate_series(0, len(paras) - 1)) AS p FROM l)
        |), h AS (
        |  SELECT doc_id, p, para,
        |    CASE WHEN length(trim(para)) > 0
        |         THEN ('0x' || substr(md5(trim(para)), 1, 15))::BIGINT END AS pid
        |  FROM e
        |), marked AS (
        |  SELECT doc_id, p, para,
        |    CASE WHEN pid IS NULL THEN FALSE
        |         ELSE row_number() OVER (PARTITION BY pid ORDER BY doc_id, p) > 1 END AS rm
        |  FROM h
        |), per AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_paras,
        |    CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |    coalesce(array_to_string(list(para ORDER BY p) FILTER (WHERE NOT rm),
        |      chr(10) || chr(10)), '') AS clean_text
        |  FROM marked GROUP BY doc_id
        |)
        |SELECT doc_id, n_paras, n_removed, clean_text FROM per ORDER BY doc_id""".stripMargin,

    // both multinomials refit from scratch, scoring + rank replayed over
    // bit-identical portable-ln averages
    "q204_dsir_select" ->
      dsirOracle("lang = 'en'", "TRUE", buckets = 8192,
        dsirSelectTail(keepPpm = 300000L)),

    // the q204 oracle VERBATIM on the scoring side — the SQL knows nothing
    // about batches: a match proves partial additivity, the compaction
    // fold, and fit-free serving at once
    "q205_dsir_serve" ->
      dsirOracle("lang = 'en'", "bucket >= 90", buckets = 8192,
        """)
          |SELECT doc_id, n_feats, round(avg, 6) AS logratio
          |FROM sc ORDER BY doc_id""".stripMargin),

    // the cutoff re-derived from the whole pool's replayed rank (min
    // rounded score of the top-50% slice), then scoring + threshold
    // replayed over the whole streamed slice — micro-batching invisible;
    // zero-feature docs rejected
    "q206_stream_dsir_gate" ->
      dsirOracle("lang = 'en'", "TRUE", buckets = 8192,
        """), rk AS (
          |  SELECT doc_id, n_feats, avg,
          |    CAST(row_number() OVER (ORDER BY avg DESC, doc_id) AS BIGINT) AS dsir_rank
          |  FROM sc WHERE n_feats > 0
          |), nn AS (SELECT count(*) AS n FROM rk
          |), cut AS (
          |  SELECT min(round(avg, 6)) AS cutoff FROM rk CROSS JOIN nn
          |  WHERE dsir_rank * 1000000 <= n * 500000
          |)
          |SELECT doc_id, lang, source FROM sc CROSS JOIN cut
          |WHERE bucket >= 90 AND n_feats > 0 AND round(avg, 6) >= cutoff
          |ORDER BY doc_id""".stripMargin),

    // the identical dirtying (chr() so no control chars live in this SQL
    // text), then utf8proc's NFC vs the JDK's — the steps replayed in the
    // same order, NFC last
    "q207_normalize_text" ->
      """WITH raw AS (
        |  SELECT doc_id, '  ' || text || chr(13) || chr(10) || 'cafe' ||
        |    chr(769) || chr(9) || 'x' || chr(7) || chr(9) || chr(9) ||
        |    ' y  z ' || chr(13) AS raw
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, nfc_normalize(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(raw, '\r\n?', chr(10), 'g'),
        |          '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |        '[ \t]+', ' ', 'g'),
        |      '^[ \t\n]+|[ \t\n]+$', '', 'g')) AS text_n
        |  FROM raw
        |)
        |SELECT doc_id, text_n, length(text_n) AS n_chars_n
        |FROM n ORDER BY doc_id""".stripMargin,

    // the whole containment prefix filter replayed: planted composites,
    // 3-word shingles, 60-bit md5 ids, (df, tok) global order, the
    // contained-side-only prefix slice, posting cap, length + position
    // prunes, and the exact integer decision — boundary pairs identical
    "q208_containment_join" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT a.doc_id + 1000000 AS doc_id, a.text || ' ' || b.text AS text
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 37 = 0
        |), t0 AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM corpus WHERE length(trim(lower(text))) > 0
        |), l AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(len(toks) - 2),
        |                             i -> array_to_string(toks[i+1:i+3], ' ')) END) AS sh
        |  FROM t0
        |), h AS (
        |  SELECT doc_id, list_distinct(list_transform(sh,
        |    g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS toks FROM l
        |), toks AS (SELECT doc_id, len(toks) AS sz, unnest(toks) AS tok FROM h
        |), dfs AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1
        |), ranked AS (
        |  SELECT t.doc_id, t.sz, t.tok,
        |         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn
        |  FROM toks t JOIN dfs d USING (tok)
        |), rk AS (
        |  SELECT * FROM (
        |    SELECT *, count(*) OVER (PARTITION BY tok) AS postings FROM ranked)
        |  WHERE postings BETWEEN 2 AND 200
        |), pref AS (
        |  SELECT * FROM rk WHERE sz >= 5 AND rn <= sz - ((9 * sz + 9) // 10) + 1
        |), cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM rk a JOIN pref b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        |  WHERE 10 * a.sz >= 9 * b.sz
        |    AND 1 + least(a.sz - a.rn, b.sz - b.rn) >= (9 * b.sz + 9) // 10
        |), j AS (
        |  SELECT id_a, id_b, len(list_intersect(la.sh, lb.sh)) AS inter,
        |         len(lb.sh) AS sz_b
        |  FROM cand JOIN l la ON la.doc_id = cand.id_a
        |            JOIN l lb ON lb.doc_id = cand.id_b
        |)
        |SELECT id_a AS container_id, id_b AS contained_id,
        |  CAST(inter AS BIGINT) AS inter, CAST(sz_b AS BIGINT) AS sz_contained,
        |  round(inter::DOUBLE / sz_b::DOUBLE, 6) AS containment
        |FROM j WHERE 10 * inter >= 9 * sz_b
        |ORDER BY container_id, contained_id""".stripMargin,

    // the residual cascade replayed level by level: ≥k groups released,
    // the remainder re-grouped coarser, the final residual suppressed
    "q211_k_anonymize" ->
      """WITH d AS (
        |  SELECT doc_id, lang, source, CAST(n_chars // 300 AS VARCHAR) AS lenb
        |  FROM documents
        |), l0 AS (
        |  SELECT doc_id, lang AS q_lang, source AS q_source, lenb AS q_len FROM d
        |), k0 AS (
        |  SELECT l0.*, 0 AS gen_level FROM l0
        |  JOIN (SELECT q_lang, q_source, q_len FROM l0
        |        GROUP BY 1, 2, 3 HAVING count(*) >= 5) g
        |    USING (q_lang, q_source, q_len)
        |), r0 AS (SELECT * FROM d WHERE doc_id NOT IN (SELECT doc_id FROM k0)
        |), l1 AS (
        |  SELECT doc_id, lang AS q_lang, source AS q_source, '*' AS q_len FROM r0
        |), k1 AS (
        |  SELECT l1.*, 1 AS gen_level FROM l1
        |  JOIN (SELECT q_lang, q_source FROM l1
        |        GROUP BY 1, 2 HAVING count(*) >= 5) g
        |    USING (q_lang, q_source)
        |), r1 AS (SELECT * FROM r0 WHERE doc_id NOT IN (SELECT doc_id FROM k1)
        |), l2 AS (
        |  SELECT doc_id, lang AS q_lang, '*' AS q_source, '*' AS q_len FROM r1
        |), k2 AS (
        |  SELECT l2.*, 2 AS gen_level FROM l2
        |  JOIN (SELECT q_lang FROM l2 GROUP BY 1 HAVING count(*) >= 5) g
        |    USING (q_lang)
        |), r2 AS (SELECT * FROM r1 WHERE doc_id NOT IN (SELECT doc_id FROM k2)
        |), allout AS (
        |  SELECT * FROM k0 UNION ALL SELECT * FROM k1 UNION ALL SELECT * FROM k2
        |  UNION ALL
        |  SELECT doc_id, '*' AS q_lang, '*' AS q_source, '*' AS q_len, 3 AS gen_level
        |  FROM r2
        |)
        |SELECT doc_id, q_lang, q_source, q_len, CAST(gen_level AS BIGINT) AS gen_level
        |FROM allout ORDER BY doc_id""".stripMargin,

    // q212/q213 (q55 contract): candidates + direction tags from the dump,
    // exact shingle containment verified from the reconstructed corpus,
    // the integer threshold replayed — batching invisible
    "q212_containment_incremental" ->
      containmentIncrementalOracle("q212_candidates/*.parquet"),
    "q213_stream_containment" ->
      containmentIncrementalOracle("q213_candidates/**/*.parquet"),

    // the LM retrained WITHOUT the deleted docs — no batch, no tombstone,
    // no negative-partial concept: a match proves exact statistical
    // unlearning
    "q202_lm_unlearn" -> lmPerplexityOracle(
      trainPred = "bucket < 80 AND NOT (doc_id % 7 = 0)",
      scorePred = "bucket >= 90",
      select = "SELECT doc_id, n_bigrams, logppl FROM scored ORDER BY doc_id"),

    // the α = 1/2 rate derivation replayed step-for-step: √n per domain,
    // normalizer folded in ascending domain order, budget = half the
    // corpus (integer division both sides), ppm floor, hash keep rule
    "q201_temperature_mix" ->
      """WITH d AS (SELECT doc_id, source FROM documents
        |), st AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_domain FROM d GROUP BY 1
        |), stw AS (
        |  SELECT source, n_domain, sqrt(n_domain::DOUBLE) AS s FROM st
        |), norm AS (
        |  SELECT list_reduce(list_sort(list({'t': source, 'c': s})),
        |    (a, b) -> {'t': b.t, 'c': a.c + b.c}).c AS ssum FROM stw
        |), bud AS (SELECT CAST(count(*) // 2 AS BIGINT) AS budget FROM d
        |), rates AS (
        |  SELECT source, n_domain,
        |    least(1000000, CAST(floor(1000000.0 *
        |      ((bud.budget::DOUBLE * (s / norm.ssum)) / n_domain::DOUBLE)) AS BIGINT)) AS keep_ppm
        |  FROM stw CROSS JOIN norm CROSS JOIN bud
        |)
        |SELECT d.doc_id, d.source, rates.n_domain, rates.keep_ppm,
        |  (('0x' || substr(md5('temp:' || d.doc_id::VARCHAR), 1, 8))::BIGINT % 1000000) < rates.keep_ppm AS kept
        |FROM d JOIN rates USING (source) ORDER BY d.doc_id""".stripMargin,

    // the q191 positional machinery plus the snippet: min start, clamp the
    // window at 0, slice 8 tokens, join the same tokenization
    "q194_phrase_snippets" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1)) AS p
        |  FROM t WHERE len(toks) >= 1
        |), pt AS (
        |  SELECT doc_id, p, toks[p + 1] AS term FROM pos
        |), p0 AS (
        |  SELECT doc_id, p AS sp FROM pt WHERE term = 'window'
        |), p1 AS (
        |  SELECT doc_id, p - 1 AS sp FROM pt WHERE term = 'join'
        |), m AS (
        |  SELECT doc_id, count(*) AS n_phrase, min(sp) AS fs
        |  FROM p0 JOIN p1 USING (doc_id, sp) GROUP BY doc_id
        |), ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY n_phrase DESC, doc_id) AS BIGINT) AS rank,
        |         doc_id, CAST(n_phrase AS BIGINT) AS n_phrase, fs
        |  FROM m
        |)
        |SELECT rank, doc_id, n_phrase,
        |       array_to_string(t.toks[greatest(fs - 3, 0) + 1 : greatest(fs - 3, 0) + 8], ' ') AS snippet
        |FROM ranked JOIN t USING (doc_id)
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // per-doc (posA, posB) pairs with |a - b| <= 3 as a range-join count —
    // identical to the engine's O(tfA x tfB) position-array fold
    "q193_proximity_search" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1)) AS p
        |  FROM t WHERE len(toks) >= 1
        |), pt AS (
        |  SELECT doc_id, p, toks[p + 1] AS term FROM pos
        |), pa AS (SELECT doc_id, p FROM pt WHERE term = 'spark'
        |), pb AS (SELECT doc_id, p FROM pt WHERE term = 'hash'
        |), m AS (
        |  SELECT pa.doc_id, count(*) AS n_near
        |  FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND abs(pa.p - pb.p) <= 3
        |  GROUP BY pa.doc_id
        |), r AS (
        |  SELECT m.doc_id, CAST(len(t.toks) AS BIGINT) AS dl,
        |         CAST(m.n_near AS BIGINT) AS n_near
        |  FROM m JOIN t USING (doc_id)
        |)
        |SELECT CAST(row_number() OVER (ORDER BY n_near DESC, doc_id) AS BIGINT) AS rank,
        |       doc_id, dl, n_near
        |FROM r ORDER BY n_near DESC, doc_id LIMIT 15""".stripMargin,

    // the logical corpus (survivors of the %13 delete) recomputed raw: doc
    // and token totals, distinct-term vocabulary, (term, doc) posting count
    "q192_bm25_describe" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents WHERE doc_id % 13 <> 0
        |), tok AS (
        |  SELECT doc_id, unnest(toks) AS term FROM s
        |), p AS (
        |  SELECT term, doc_id FROM tok GROUP BY term, doc_id
        |)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_docs,
        |       (SELECT CAST(sum(len(toks)) AS BIGINT) FROM s) AS sum_dl,
        |       (SELECT CAST(count(DISTINCT term) AS BIGINT) FROM p) AS n_terms,
        |       (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_postings,
        |       CAST(64 AS BIGINT) AS tb_buckets,
        |       (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 13 = 0) AS pending_tombstones""".stripMargin,

    // positional intersection as a (doc_id, shifted-start) join-count —
    // positions are distinct per (doc, term), so the join count equals the
    // engine's array-intersection size exactly
    "q191_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1)) AS p
        |  FROM t WHERE len(toks) >= 1
        |), pt AS (
        |  SELECT doc_id, p, toks[p + 1] AS term FROM pos
        |), p0 AS (
        |  SELECT doc_id, p AS sp FROM pt WHERE term = 'window'
        |), p1 AS (
        |  SELECT doc_id, p - 1 AS sp FROM pt WHERE term = 'join'
        |), m AS (
        |  SELECT doc_id, count(*) AS n_phrase
        |  FROM p0 JOIN p1 USING (doc_id, sp) GROUP BY doc_id
        |), r AS (
        |  SELECT m.doc_id, CAST(len(t.toks) AS BIGINT) AS dl,
        |         CAST(m.n_phrase AS BIGINT) AS n_phrase
        |  FROM m JOIN t USING (doc_id)
        |)
        |SELECT CAST(row_number() OVER (ORDER BY n_phrase DESC, doc_id) AS BIGINT) AS rank,
        |       doc_id, dl, n_phrase
        |FROM r ORDER BY n_phrase DESC, doc_id LIMIT 15""".stripMargin,

    // the q176 oracle with the SAME integer stop-term cut in the dfreq CTE
    "q190_bm25_df_capped" -> bm25MultiQueryOracle(
      """(1, ['dup', 'scan']),
        |    (2, ['spark', 'merge', 'slow'])""".stripMargin,
      maxDfPpm = 780000L),

    // the q176 oracle over the corpus MINUS the deleted docs — no tombstone
    // concept on this side: equality proves the negative partials restored
    // df/n_docs/sum_dl exactly and the anti-join hid every deleted posting
    "q180_bm25_delete" -> bm25MultiQueryOracle(
      """(1, ['spark', 'hash']),
        |    (2, ['dup', 'window']),
        |    (3, ['merge', 'scan', 'filter'])""".stripMargin,
      docsWhere = "WHERE doc_id % 7 <> 0"),

    // both arms re-derived exactly (the q176 BM25 CTEs at top-20; the q17
    // cosine ranking at top-20), then the RRF fold: two fixed-order IEEE
    // terms 1/(60 + rank), missing arm -> 0.0, rounded once, ties -> doc_id
    "q181_hybrid_rrf" -> hybridRrfOracle,

    // q181's oracle verbatim: the streamed hybrid serve runs the SAME two
    // arms fit-free from the persisted indexes (dense arm at full probe =
    // exact), so the batching must not change a single bit
    "q183_stream_hybrid" -> hybridRrfOracle,

    // q173's candidate-verification + transitive-closure machinery, then the
    // split: rep = component min (or self), bucket = the md5 split rule on
    // the REP — the oracle proves a cluster can never straddle buckets
    "q185_leakfree_split" ->
      """WITH RECURSIVE cand AS (
        |  SELECT id_a, id_b FROM read_parquet('{AUX}/q185_candidates/*.parquet')
        |), t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' ')) END) AS shingles
        |  FROM t
        |), e0 AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT cand.id_a, cand.id_b,
        |      round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |            len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE, 6) AS jaccard
        |    FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh b ON b.doc_id = cand.id_b)
        |  WHERE jaccard >= 0.5
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM e0
        |  UNION SELECT id_b, id_a FROM e0
        |), reach AS (
        |  SELECT src AS node, dst AS r FROM edges
        |  UNION
        |  SELECT reach.node, edges.dst FROM reach JOIN edges ON edges.src = reach.r
        |), comp AS (
        |  SELECT node AS doc_id, least(node, min(r)) AS component FROM reach GROUP BY node
        |), rep AS (
        |  SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS split_rep
        |  FROM documents d LEFT JOIN comp USING (doc_id)
        |)
        |SELECT doc_id, split_rep,
        |  ('0x' || substr(md5(split_rep::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
        |FROM rep ORDER BY doc_id""".stripMargin,

    // the q179 gate replay (raw-string grams, rounded ratio > 0.9) composed
    // with the q72 incremental-dedup replay (candidate jaccard verification
    // + index-canonical orientation) — each streamed doc's status falls out
    // of the two independent re-derivations
    "q189_stream_curation" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents
        |), streamed AS (
        |  SELECT doc_id, text FROM b WHERE bucket < 80 AND doc_id % 2 = 1
        |), bg AS (
        |  SELECT unnest(list_distinct(
        |      CASE WHEN length(lower(text)) <= 8 THEN [lower(text)]
        |           ELSE list_transform(range(length(lower(text)) - 7),
        |                               i -> substr(lower(text), CAST(i + 1 AS INTEGER), 8)) END)) AS gram
        |  FROM b WHERE bucket >= 90
        |), bench AS (SELECT DISTINCT gram FROM bg
        |), sg AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(
        |      CASE WHEN length(lower(text)) <= 8 THEN [lower(text)]
        |           ELSE list_transform(range(length(lower(text)) - 7),
        |                               i -> substr(lower(text), CAST(i + 1 AS INTEGER), 8)) END)) AS gram
        |  FROM streamed
        |), per AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |         sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) AS n_seen
        |  FROM sg GROUP BY doc_id
        |), quar AS (
        |  SELECT doc_id FROM per
        |  WHERE round(n_seen::DOUBLE / n_grams::DOUBLE, 6) > 0.9
        |), cand AS (
        |  SELECT id_a, id_b, new_a, new_b
        |  FROM read_parquet('{AUX}/q189_candidates/**/*.parquet')
        |), t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' ')) END) AS shingles
        |  FROM t
        |), j AS (
        |  SELECT id_a, id_b, new_a, new_b,
        |    round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |          len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE, 6) AS jaccard
        |  FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh b ON b.doc_id = cand.id_b
        |), drops AS (
        |  SELECT DISTINCT CASE WHEN new_a AND NOT new_b THEN id_a ELSE id_b END AS doc_id
        |  FROM j WHERE jaccard >= 0.5
        |)
        |SELECT s.doc_id,
        |  CASE WHEN quar.doc_id IS NOT NULL THEN 'quarantined'
        |       WHEN drops.doc_id IS NOT NULL THEN 'duplicate'
        |       ELSE 'kept' END AS status
        |FROM streamed s
        |LEFT JOIN quar USING (doc_id)
        |LEFT JOIN drops USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // rank + cap replayed over the dumped cell assignments: the salted md5
    // rank, the (rank DESC, id) order, and the per-cell cap are all exact
    "q188_cluster_balanced" ->
      """WITH a AS (
        |  SELECT vec_id, cell FROM read_parquet('{AUX}/q188_cells/*.parquet')
        |), r AS (
        |  SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY cell ORDER BY
        |      ('0x' || substr(md5('bal:' || vec_id::VARCHAR), 1, 8))::BIGINT % 1000000 DESC,
        |      vec_id) AS rn
        |  FROM a
        |)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell, (rn <= 20) AS kept
        |FROM r ORDER BY vec_id""".stripMargin,

    // the same synthetic "after" snapshot rebuilt literally; the oracle
    // compares raw text where the engine compares digests — equal at the
    // family's documented collision noise floor
    "q187_corpus_diff" ->
      """WITH b AS (
        |  SELECT doc_id, text FROM documents
        |), a AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new ' || text FROM documents WHERE doc_id < 50
        |)
        |SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
        |  CASE WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN a.doc_id IS NULL THEN 'removed'
        |       WHEN a.text = b.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM b FULL OUTER JOIN a ON b.doc_id = a.doc_id
        |ORDER BY doc_id""".stripMargin,

    // the q173 quality replay ranked per domain with the exact integer ppm
    // predicate — no interpolated quantile anywhere
    "q186_domain_quality_prune" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, source, text, toks,
        |    len(toks)::DOUBLE AS n,
        |    greatest(length(text), 1)::DOUBLE AS chars
        |  FROM t
        |), x AS (
        |  SELECT doc_id, source, n,
        |    CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE)
        |         ELSE list_aggregate(list_transform(toks, s -> length(s)), 'sum')::DOUBLE / greatest(n, CAST(1.0 AS DOUBLE)) END AS mean_len,
        |    len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / chars AS alpha_ratio,
        |    len(regexp_extract_all(text, '[[:punct:]]'))::DOUBLE / chars AS punct_ratio,
        |    CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE)
        |         ELSE len(list_distinct(toks))::DOUBLE / greatest(n, CAST(1.0 AS DOUBLE)) END AS distinct_ratio
        |  FROM m
        |), q AS (
        |  SELECT doc_id, source,
        |    (CASE WHEN n >= 50 AND n <= 100000 THEN CAST(1.0 AS DOUBLE)
        |          WHEN n >= 10 THEN CAST(0.6 AS DOUBLE)
        |          WHEN n >= 3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
        |    + (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.4 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
        |    + alpha_ratio * CAST(0.2 AS DOUBLE)
        |    + (CASE WHEN punct_ratio <= CAST(0.2 AS DOUBLE) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.3 AS DOUBLE) END) * CAST(0.1 AS DOUBLE)
        |    + distinct_ratio * CAST(0.2 AS DOUBLE) AS quality
        |  FROM x
        |), r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS BIGINT) AS q_rank,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_domain
        |  FROM q
        |)
        |SELECT doc_id, source, q_rank, n_domain,
        |       (q_rank * 1000000 <= 800000 * n_domain) AS kept
        |FROM r ORDER BY doc_id""".stripMargin,

    // the q173 quality-score replay feeding a single global window cumsum —
    // DuckDB runs the whole scan in one pass; the ENGINE must reach the
    // identical integer running totals through its range-shuffle + parallel
    // windows + offset recomposition, which is exactly what the hash match
    // proves. Budget = integer half of the corpus token total, both sides
    "q184_budgeted_select" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, text, toks,
        |    len(toks)::DOUBLE AS n,
        |    greatest(length(text), 1)::DOUBLE AS chars
        |  FROM t
        |), x AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE)
        |         ELSE list_aggregate(list_transform(toks, s -> length(s)), 'sum')::DOUBLE / greatest(n, CAST(1.0 AS DOUBLE)) END AS mean_len,
        |    len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / chars AS alpha_ratio,
        |    len(regexp_extract_all(text, '[[:punct:]]'))::DOUBLE / chars AS punct_ratio,
        |    CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE)
        |         ELSE len(list_distinct(toks))::DOUBLE / greatest(n, CAST(1.0 AS DOUBLE)) END AS distinct_ratio
        |  FROM m
        |), q AS (
        |  SELECT doc_id,
        |    (CASE WHEN n >= 50 AND n <= 100000 THEN CAST(1.0 AS DOUBLE)
        |          WHEN n >= 10 THEN CAST(0.6 AS DOUBLE)
        |          WHEN n >= 3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
        |    + (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.4 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
        |    + alpha_ratio * CAST(0.2 AS DOUBLE)
        |    + (CASE WHEN punct_ratio <= CAST(0.2 AS DOUBLE) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.3 AS DOUBLE) END) * CAST(0.1 AS DOUBLE)
        |    + distinct_ratio * CAST(0.2 AS DOUBLE) AS quality
        |  FROM x
        |), tok AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t
        |), j AS (
        |  SELECT q.doc_id, q.quality, tok.n_tokens FROM q JOIN tok USING (doc_id)
        |), r AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_total
        |  FROM j
        |), b AS (
        |  SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS budget FROM tok
        |)
        |SELECT doc_id, n_tokens, CAST(running_total AS BIGINT) AS running_total
        |FROM r, b WHERE running_total <= budget ORDER BY doc_id""".stripMargin,

    // shard + per-row digest recomputed from the RAW table: any lost,
    // duplicated, or corrupted row in the export moves a count or an
    // order-independent checksum (sum of md5-digests mod 1e6+3)
    "q182_export_manifest" ->
      """SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum((('0x' || substr(md5(doc_id::VARCHAR || chr(1) || text), 1, 15))::BIGINT) % 1000003) AS BIGINT) AS checksum
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,

    // q176's contract over the STREAMED query batch (single AvailableNow
    // micro-batch; the oracle is agnostic to the batching)
    "q178_stream_bm25" -> bm25MultiQueryOracle(
      """(1, ['spark', 'scan']),
        |    (2, ['window', 'sort', 'dup']),
        |    (3, ['big', 'small', 'fast', 'slow'])""".stripMargin),

    // q175's gram replay with the benchmark on the OTHER side of the split,
    // plus the gate verdict: quarantined = rounded ratio > 0.9 (the engine
    // compares the same rounded value)
    "q179_stream_decontam" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents
        |), lab AS (
        |  SELECT doc_id, text, CASE WHEN bucket >= 90 THEN 0 ELSE 1 END AS side
        |  FROM b WHERE bucket < 80 OR bucket >= 90
        |), g AS (
        |  SELECT doc_id, side,
        |    unnest(list_distinct(
        |      CASE WHEN length(lower(text)) <= 8 THEN [lower(text)]
        |           ELSE list_transform(range(length(lower(text)) - 7),
        |                               i -> substr(lower(text), CAST(i + 1 AS INTEGER), 8)) END)) AS gram
        |  FROM lab
        |), bench AS (SELECT DISTINCT gram FROM g WHERE side = 0
        |), per AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |         sum(CASE WHEN gram IN (SELECT gram FROM bench) THEN 1 ELSE 0 END) AS n_seen
        |  FROM g WHERE side = 1 GROUP BY doc_id
        |)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |       CAST(n_seen AS BIGINT) AS n_seen,
        |       round(n_seen::DOUBLE / n_grams::DOUBLE, 6) AS ratio,
        |       (round(n_seen::DOUBLE / n_grams::DOUBLE, 6) > 0.9) AS quarantined
        |FROM per ORDER BY doc_id""".stripMargin,

    // word bigrams over the SAME portable 60-bit token ids the engine
    // shuffles (md5-prefix longs — bit-identical across engines), corpus
    // counts, rare-rate per doc; one rounded division, no transcendentals
    "q172_bigram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents
        |), tid AS (
        |  SELECT doc_id,
        |    list_transform(toks, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS tids
        |  FROM t
        |), pos AS (
        |  SELECT doc_id, tids, unnest(generate_series(0, len(tids) - 2)) AS i
        |  FROM tid WHERE len(tids) >= 2
        |), bg AS (
        |  SELECT doc_id, tids[i + 1] AS w1, tids[i + 2] AS w2 FROM pos
        |), c AS (
        |  SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2
        |), per AS (
        |  SELECT bg.doc_id, count(*) AS n_bigrams,
        |         sum(CASE WHEN c.cnt <= 2 THEN 1 ELSE 0 END) AS n_rare
        |  FROM bg JOIN c USING (w1, w2) GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(per.n_rare, 0) AS BIGINT) AS n_rare,
        |  CASE WHEN coalesce(per.n_bigrams, 0) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(per.n_rare::DOUBLE / per.n_bigrams::DOUBLE, 6) END AS novelty
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // BM25 with the tfIdf raw-ratio idf (no ln) and the EXACT expression
    // shape of the engine (same literals, same associativity — every op is
    // IEEE correctly-rounded, so scores are bit-identical before the final
    // 6 dp round); per-doc sum is ≤3 conditional aggregates added in fixed
    // order, never an arbitrary-order float sum
    "q174_bm25_topk" -> bm25TopKOracle,

    // the TVF serves q174's query from the PERSISTED index, so its float
    // fold is the indexed path's (contributions summed in term_id order —
    // q176's contract, not q174's fixed-order sum); single query, so
    // query_id is dropped from the ranked shape
    "q232_bm25_topk_sql" ->
      s"""WITH ${bm25RankedCtes("(1, ['spark', 'window', 'hash'])", "")}
         |SELECT rank, doc_id, dl, score
         |FROM ranked WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // the TVF is Dedup.exact over the same corpus — q12's oracle verbatim
    "q233_dedup_marks_sql" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin,

    // q198's serve contract through the SQL-text face: the oracle scores
    // the same train/serve split and knows nothing about how the engine
    // was invoked
    "q234_lm_ppl_sql" -> lmPerplexityOracle(
      trainPred = "bucket < 80", scorePred = "bucket >= 90",
      select = "SELECT doc_id, n_bigrams, logppl FROM scored ORDER BY doc_id"),

    // q13's candidate-dump verification, then the cluster machinery in
    // pure SQL: transitive closure over verified pairs (dup clusters are
    // replication-bounded — the closure is tiny), min-id component labels
    // (the engine's CC invariant), the quality score replayed bit-exactly,
    // and the (quality DESC, id) argmax per cluster
    "q173_dup_canonical" ->
      """WITH RECURSIVE cand AS (
        |  SELECT id_a, id_b FROM read_parquet('{AUX}/q173_candidates/*.parquet')
        |), t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(len(toks) - 4), i -> array_to_string(toks[i+1:i+5], ' ')) END) AS shingles
        |  FROM t
        |), e0 AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT cand.id_a, cand.id_b,
        |      round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
        |            len(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE, 6) AS jaccard
        |    FROM cand JOIN sh a ON a.doc_id = cand.id_a JOIN sh b ON b.doc_id = cand.id_b)
        |  WHERE jaccard >= 0.5
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM e0
        |  UNION SELECT id_b, id_a FROM e0
        |), reach AS (
        |  SELECT src AS node, dst AS r FROM edges
        |  UNION
        |  SELECT reach.node, edges.dst FROM reach JOIN edges ON edges.src = reach.r
        |), comp AS (
        |  SELECT node AS doc_id, least(node, min(r)) AS component FROM reach GROUP BY node
        |), m AS (
        |  SELECT doc_id, text, toks,
        |    len(toks)::DOUBLE AS n,
        |    greatest(length(text), 1)::DOUBLE AS chars
        |  FROM t
        |), x AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE)
        |         ELSE list_aggregate(list_transform(toks, s -> length(s)), 'sum')::DOUBLE / greatest(n, CAST(1.0 AS DOUBLE)) END AS mean_len,
        |    len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / chars AS alpha_ratio,
        |    len(regexp_extract_all(text, '[[:punct:]]'))::DOUBLE / chars AS punct_ratio,
        |    CASE WHEN n = 0 THEN CAST(0.0 AS DOUBLE)
        |         ELSE len(list_distinct(toks))::DOUBLE / greatest(n, CAST(1.0 AS DOUBLE)) END AS distinct_ratio
        |  FROM m
        |), q AS (
        |  SELECT doc_id,
        |    (CASE WHEN n >= 50 AND n <= 100000 THEN CAST(1.0 AS DOUBLE)
        |          WHEN n >= 10 THEN CAST(0.6 AS DOUBLE)
        |          WHEN n >= 3 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.3 AS DOUBLE)
        |    + (CASE WHEN mean_len >= 3 AND mean_len <= 10 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.4 AS DOUBLE) END) * CAST(0.2 AS DOUBLE)
        |    + alpha_ratio * CAST(0.2 AS DOUBLE)
        |    + (CASE WHEN punct_ratio <= CAST(0.2 AS DOUBLE) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.3 AS DOUBLE) END) * CAST(0.1 AS DOUBLE)
        |    + distinct_ratio * CAST(0.2 AS DOUBLE) AS quality
        |  FROM x
        |), lab AS (
        |  SELECT q.doc_id, coalesce(comp.component, q.doc_id) AS component, q.quality
        |  FROM q LEFT JOIN comp USING (doc_id)
        |), sel AS (
        |  SELECT doc_id, component, quality,
        |    row_number() OVER (PARTITION BY component ORDER BY quality DESC, doc_id) AS rn
        |  FROM lab
        |), canon AS (
        |  SELECT component, doc_id AS canonical_id FROM sel WHERE rn = 1
        |)
        |SELECT lab.doc_id, lab.component, canon.canonical_id,
        |       lab.doc_id = canon.canonical_id AS is_canonical
        |FROM lab JOIN canon USING (component)
        |ORDER BY doc_id""".stripMargin,

    "q17_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nbr_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, nbr_id, list_cosine_similarity(qv, cv) AS cosine,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY list_cosine_similarity(qv, cv) DESC, nbr_id) AS nbr_rank
        |  FROM q JOIN c ON query_id <> nbr_id)
        |SELECT query_id, CAST(nbr_rank AS BIGINT) AS nbr_rank, nbr_id, cosine
        |FROM scored WHERE nbr_rank <= 5 ORDER BY query_id, nbr_rank""".stripMargin,

    // candidate generation (KMeans cells / hyperplane buckets) is engine-
    // specific; given the dumped candidate pairs, the cosine scoring and the
    // (cosine DESC, nbr_id) ranking are re-derived exactly (list_cosine_
    // similarity bit-matches the native expression — q17)
    "q18_ann_ivf" ->
      cosineRerankOracle("q18_candidates"),

    // the bounded-state sample IS "ORDER BY md5 LIMIT k per group" — replayed
    // exactly (content-addressed key, payload tie-break)
    "q149_group_sample" ->
      """SELECT event_type, CAST(event_id AS BIGINT) AS event_id FROM (
        |  SELECT event_type, event_id,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY md5(event_id::VARCHAR), event_id::VARCHAR) AS rn
        |  FROM (SELECT DISTINCT event_type, event_id FROM events) d) t
        |WHERE rn <= 5 ORDER BY event_type, event_id""".stripMargin,

    // q18's candidate-dump contract with q148's own dump: DuckDB re-ranks
    // the PQ shortlist by exact cosine, so coding/ADC errors that perturb
    // the shortlist CONTENTS are visible, and rerank math is bit-checked
    // identical sample to q149, derived from SQL text — one oracle serves both
    "q153_group_sample_sql" ->
      """SELECT event_type, CAST(event_id AS BIGINT) AS event_id FROM (
        |  SELECT event_type, event_id,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY md5(event_id::VARCHAR), event_id::VARCHAR) AS rn
        |  FROM (SELECT DISTINCT event_type, event_id FROM events) d) t
        |WHERE rn <= 5 ORDER BY event_type, event_id""".stripMargin,

    // q148's contract over the IVFADC shortlist: DuckDB re-ranks by exact
    // cosine, so coarse-probe and residual-coding errors that perturb the
    // shortlist CONTENTS are visible and the rerank math is bit-checked
    "q151_ivfadc_ann" ->
      cosineRerankOracle("q151_candidates"),

    "q148_pq_ann" ->
      cosineRerankOracle("q148_candidates"),

    // q151's contract over the PERSISTED-index shortlist: DuckDB re-ranks
    // by exact cosine, so a stale/corrupt stored code or codebook that
    // perturbs the shortlist CONTENTS is visible
    "q155_ivfadc_index" ->
      cosineRerankOracle("q155_candidates"),

    // FILTERED ANN at full probe + uncapped shortlist degenerates to the
    // EXACT filtered top-k, so the oracle is q17's brute force with the
    // allowed-set predicate on the candidate side — checking the filter,
    // the ranking, and the cosine bit-for-bit, end to end
    // the SQL-text ANN face at exhaustive probe = exact top-k; brute-force
    // oracle WITHOUT the self-exclusion (the TVF serves self-matches —
    // rank 1 at cosine 1 — like any vector store queried with a member)
    "q235_ann_topk_sql" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nbr_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, nbr_id, list_cosine_similarity(qv, cv) AS cosine,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY list_cosine_similarity(qv, cv) DESC, nbr_id) AS nbr_rank
        |  FROM q CROSS JOIN c)
        |SELECT query_id, CAST(nbr_rank AS BIGINT) AS nbr_rank, nbr_id, round(cosine, 6) AS cosine
        |FROM scored WHERE nbr_rank <= 5 ORDER BY query_id, nbr_rank""".stripMargin,

    // the MERGE-shaped SQL statement leaves the store's online snapshot
    // exactly where q111's CdcMerge leaves its frame — same oracle text
    // (base = pre-cut latest per key, net change per key from the post-cut
    // batch, 'error' rows delete), verifying the statement END TO END
    // through the store's own serving face
    "q236_fs_merge_sql" ->
      """WITH ev AS (SELECT user_id, event_id, ts, event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |b AS (SELECT user_id, event_id, ts, vc FROM (
        |    SELECT user_id, event_id, ts, vc,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev WHERE ts < TIMESTAMP '2024-01-16') WHERE rn = 1),
        |n AS (SELECT user_id, event_id, ts, vc,
        |             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op FROM (
        |    SELECT user_id, event_id, ts, vc, event_type,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev WHERE ts >= TIMESTAMP '2024-01-16') WHERE rn = 1)
        |SELECT coalesce(n.user_id, b.user_id) AS user_id,
        |       CASE WHEN n.user_id IS NOT NULL THEN n.event_id ELSE b.event_id END AS event_id,
        |       CASE WHEN n.user_id IS NOT NULL THEN n.ts ELSE b.ts END AS ts,
        |       CASE WHEN n.user_id IS NOT NULL THEN n.vc ELSE b.vc END AS vc
        |FROM b FULL JOIN n ON b.user_id = n.user_id
        |WHERE n.op IS NULL OR n.op <> 'D'
        |ORDER BY user_id""".stripMargin,

    // the DELETE-shaped SQL statement = q10's latest-per-key minus the
    // statement's key list
    "q237_fs_delete_sql" ->
      """SELECT user_id, event_id, ts, event_type, value FROM (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND user_id % 7 <> 0 ORDER BY user_id""".stripMargin,

    // the COMPACT statement rewrites offline history folding tombstones in
    // — the post-compaction history is events minus the deleted key set,
    // every row (history, not latest-per-key)
    "q238_fs_compact_sql" ->
      """SELECT user_id, event_id, ts, event_type, value FROM events
        |WHERE user_id % 7 <> 0 ORDER BY event_id""".stripMargin,

    // the VACUUM statement drops superseded online snapshots and must leave
    // LATEST untouched — the latest-per-key oracle over the full corpus
    "q239_fs_vacuum_sql" -> latestOracle,

    // RENAME is era-exact: both eras (pre-rename 'value', post-rename
    // 'score') must serve under the new name — the oracle is the plain
    // aliased projection of the whole corpus
    "q240_fs_rename" ->
      """SELECT user_id, event_id, ts, event_type, value AS score
        |FROM events ORDER BY event_id""".stripMargin,

    // the pure-SQL lifecycle ends at the same serving state as q10's
    // latest-per-key, with the renamed column under its new name
    "q241_fs_sql_lifecycle" ->
      """SELECT user_id, event_id, ts, event_type, value AS score FROM (
        |  SELECT user_id, event_id, ts, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q230_ivfadc_filtered" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nbr_id, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id % 3 = 0),
        |scored AS (
        |  SELECT query_id, nbr_id, list_cosine_similarity(qv, cv) AS cosine,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY list_cosine_similarity(qv, cv) DESC, nbr_id) AS nbr_rank
        |  FROM q JOIN c ON query_id <> nbr_id)
        |SELECT query_id, CAST(nbr_rank AS BIGINT) AS nbr_rank, nbr_id, cosine
        |FROM scored WHERE nbr_rank <= 5 ORDER BY query_id, nbr_rank""".stripMargin,

    // q151's contract over the per-micro-batch streaming dumps (** glob:
    // dumps accumulate per batch like q152's)
    "q160_stream_ann" ->
      cosineRerankOracle("q160_candidates", glob = "**/*"),

    // q155's contract over the base+appended shortlist: DuckDB re-ranks by
    // exact cosine — a lost/duplicated/mis-encoded appended vector that
    // perturbs the shortlist contents is visible
    "q158_ivfadc_append" ->
      cosineRerankOracle("q158_candidates"),

    // q155's contract over the post-deletion candidates
    "q167_ivfadc_delete" ->
      cosineRerankOracle("q167_candidates"),

    "q86_ann_ivf_index" ->
      cosineRerankOracle("q86_candidates"),

    // the graph's candidate dump reranked exactly per query doc — the
    // oracle knows nothing about cells or probes
    "q209_knn_graph" ->
      cosineRerankOracle("q209_candidates"),

    // union of the build + append dumps reranked per anchor: for touched
    // anchors the engine merged top-k(build) with the new arrivals, the
    // oracle ranks ALL build candidates ∪ new — equal by truncation
    // stability, so a match proves the incremental merge exact
    "q214_knn_graph_append" ->
      cosineRerankOracle("q214_candidates", glob = "*/*"),

    // same contract through the streaming engine: build dump + per-batch
    // dumps, one rerank
    "q215_stream_knn_graph" ->
      cosineRerankOracle("q215_candidates", glob = "*/*"),

    // the hierarchical probe discipline is candidate generation only —
    // the oracle reranks the dump, blind to tops and leaves
    "q217_knn_graph_two_level" ->
      cosineRerankOracle("q217_candidates"),

    // the dumped different-label candidates reranked exactly; the oracle
    // ALSO independently re-checks the label-inequality invariant (a
    // same-label pair in the dump would join back and fail the row count)
    "q210_hard_negatives" ->
      """WITH cand AS (
        |  SELECT c.query_id, c.nbr_id
        |  FROM read_parquet('{AUX}/q210_candidates/*.parquet') c
        |  JOIN embeddings a ON a.vec_id = c.query_id
        |  JOIN embeddings b ON b.vec_id = c.nbr_id
        |  WHERE a.label <> b.label
        |), scored AS (
        |  SELECT query_id, nbr_id,
        |         list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cosine,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |                                     nbr_id) AS nbr_rank
        |  FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
        |            JOIN embeddings c ON c.vec_id = cand.nbr_id)
        |SELECT query_id, CAST(nbr_rank AS BIGINT) AS nbr_rank, nbr_id, cosine
        |FROM scored WHERE nbr_rank <= 5 ORDER BY query_id, nbr_rank""".stripMargin,

    "q47_ann_lsh" ->
      cosineRerankOracle("q47_candidates"),

    // md5-derived winnowing: the full fingerprint selection (8-gram 60-bit
    // hashes, window-4 minima, distinct count) re-derived from scratch
    "q22_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, lower(text) AS lt FROM documents
        |), tok AS (
        |  SELECT doc_id, lt,
        |    CASE WHEN length(trim(lt)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(lt), '\s+') END AS toks
        |  FROM t
        |), g AS (
        |  SELECT doc_id, toks,
        |    list_transform(
        |      CASE WHEN length(lt) <= 8 THEN [lt]
        |           ELSE list_transform(range(length(lt) - 7), i -> substr(lt, CAST(i + 1 AS INTEGER), 8)) END,
        |      x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
        |  FROM tok
        |), w AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
        |         ELSE list_transform(range(len(hs) - 3), j -> list_min(hs[j+1:j+4])) END AS mins
        |  FROM g
        |)
        |SELECT doc_id, md5(array_to_string(toks, ' ')) AS doc_hash,
        |  CAST(len(list_distinct(mins)) AS BIGINT) AS n_winnow
        |FROM w ORDER BY doc_id""".stripMargin,

    "q19_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q20_lang_id" -> langIdOracle,

    "q21_quality_score" -> qualityOracle,

    "q51_curation" ->
      s"""WITH lang AS (${langIdOracle.stripSuffix(" ORDER BY doc_id")}),
         |qual AS (${qualityOracle.stripSuffix(" ORDER BY doc_id")}),
         |k AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM documents)
         |SELECT d.doc_id, lang.lang_pred, qual.quality
         |FROM documents d
         |JOIN lang ON lang.doc_id = d.doc_id
         |JOIN qual ON qual.doc_id = d.doc_id
         |JOIN k ON k.doc_id = d.doc_id
         |WHERE qual.quality >= 0.5 AND d.doc_id = k.keep_id
         |ORDER BY d.doc_id""".stripMargin,

    "q54_rolling_window" ->
      """SELECT event_id, user_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_cents_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q53_asof_forward" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.ts, p.value,
        |         v.event_id AS asof_event_id, v.value AS asof_value, v.ts AS asof_ts,
        |         row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts ASC, v.event_id ASC) AS rn
        |  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts >= p.ts)
        |SELECT event_id, user_id, ts, value, asof_event_id, asof_value, asof_ts
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "q52_hash_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

    "q26_reference_e2e" ->
      s"""WITH raw AS (
        |  SELECT CAST(customer_id AS BIGINT) AS customer_id,
        |         strptime(purchase_timestamp, '%Y-%m-%d %H:%M:%S') AS event_time,
        |         CAST(purchase_value AS DOUBLE) AS latest_purchase_value,
        |         CAST(loyalty_score AS DOUBLE) AS latest_loyalty_score
        |  FROM read_csv('$referenceCsv', header=true, all_varchar=true)
        |)
        |SELECT customer_id, event_time, latest_purchase_value, latest_loyalty_score FROM raw
        |WHERE event_time BETWEEN TIMESTAMP '2022-01-01 00:00:00' AND TIMESTAMP '2022-08-31 23:59:59'
        |ORDER BY event_time, customer_id, latest_purchase_value, latest_loyalty_score""".stripMargin,

    "q27_json_extract" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q28_distinct_agg" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q23_multimodal_decode" ->
      """SELECT doc_id AS asset_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS modality,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
        |FROM documents ORDER BY asset_id""".stripMargin,

    // the stub resize rewrites image dims to the 64×48 target and emits
    // max(1, 64*48/64) = 48 payload bytes (one per fake feature); non-images
    // pass through with md5-derived meta and original UTF-8 byte length —
    // all engine-portable, so every column is re-derivable
    "q62_image_resize" ->
      """SELECT doc_id AS asset_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS modality,
        |  CASE WHEN doc_id % 3 = 0 THEN 64
        |       ELSE CAST(('0x' || substr(md5(doc_id::VARCHAR || ':w'), 1, 8))::BIGINT % 1024 + 1 AS INTEGER)
        |  END AS width,
        |  CASE WHEN doc_id % 3 = 0 THEN 48
        |       ELSE CAST(('0x' || substr(md5(doc_id::VARCHAR || ':h'), 1, 8))::BIGINT % 1024 + 1 AS INTEGER)
        |  END AS height,
        |  ('0x' || substr(md5(doc_id::VARCHAR || ':d'), 1, 8))::BIGINT % 600000 AS duration_ms,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 48 ELSE octet_length(encode(text)) END AS BIGINT) AS n_bytes
        |FROM documents ORDER BY asset_id""".stripMargin,

    // mirrors repetitionStats exactly: same trim/lower/'\s+' tokenization as
    // the other text oracles, bigrams re-derived via 1-based list indexing,
    // small-integer double arithmetic in the same order → bit-equal fracs
    "q63_repetition" -> repetitionOracle,

    // shared lang-id + quality fragments; floors re-derived with
    // quantile_cont (bit-matches Spark's exact percentile), then the same
    // keep-count per language
    "q71_lang_quality_floor" ->
      s"""WITH lang AS (${langIdOracle.stripSuffix(" ORDER BY doc_id")}),
         |qual AS (${qualityOracle.stripSuffix(" ORDER BY doc_id")}),
         |j AS (
         |  SELECT l.doc_id, l.lang_pred, q.quality
         |  FROM lang l JOIN qual q ON q.doc_id = l.doc_id
         |), f AS (
         |  SELECT lang_pred, quantile_cont(quality, 0.25) AS q25,
         |         CAST(count(*) AS BIGINT) AS n_docs
         |  FROM j GROUP BY 1
         |)
         |SELECT f.lang_pred, f.n_docs, f.q25,
         |  CAST(count(*) FILTER (WHERE j.quality >= f.q25) AS BIGINT) AS n_kept
         |FROM j JOIN f ON f.lang_pred = j.lang_pred
         |GROUP BY f.lang_pred, f.n_docs, f.q25 ORDER BY f.lang_pred""".stripMargin,

    // every stage reuses an already-proven portable fragment: the q63
    // repetition verdict, the q21 quality score, the q65 salted mix hash,
    // and the q64 packing recurrence — composed, they must reproduce the
    // capstone's exact (shard, seq, offset) assignment for the survivor set
    "q69_pipeline_e2e" ->
      s"""WITH RECURSIVE rep AS (${repetitionOracle.stripSuffix(" ORDER BY doc_id")}),
         |qual AS (${qualityOracle.stripSuffix(" ORDER BY doc_id")}),
         |surv AS (
         |  SELECT d.doc_id, d.text FROM documents d
         |  JOIN rep ON rep.doc_id = d.doc_id
         |  JOIN qual ON qual.doc_id = d.doc_id
         |  WHERE rep.keep AND qual.quality >= CAST(0.5 AS DOUBLE)
         |    AND ('0x' || substr(md5('mix:' || d.doc_id::VARCHAR), 1, 8))::BIGINT % 1000000 <
         |        CASE d.source WHEN 'src0' THEN 500000 WHEN 'src1' THEN 500000 ELSE 1000000 END
         |), o AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16 AS shard,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tok,
         |    row_number() OVER (PARTITION BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16
         |                       ORDER BY doc_id) AS rn
         |  FROM surv
         |), p AS (
         |  SELECT doc_id, shard, n_tok, rn,
         |         CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset, n_tok AS fill
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.doc_id, o.shard, o.n_tok, o.rn,
         |    CASE WHEN p.fill + o.n_tok > 512 AND p.fill > 0 THEN p.seq_id + 1 ELSE p.seq_id END,
         |    CASE WHEN p.fill + o.n_tok > 512 AND p.fill > 0 THEN CAST(0 AS BIGINT) ELSE p.fill END,
         |    CASE WHEN p.fill + o.n_tok > 512 AND p.fill > 0 THEN o.n_tok ELSE p.fill + o.n_tok END
         |  FROM o JOIN p ON o.shard = p.shard AND o.rn = p.rn + 1
         |)
         |SELECT doc_id, shard, seq_id, seq_offset, n_tok AS n_tokens
         |FROM p ORDER BY doc_id""".stripMargin,

    // replays packSequences' recurrence exactly: same md5 shard as q52, same
    // '\s+' token count as q19, greedy fold as a recursive CTE stepping one
    // doc per shard per iteration (anchor = each shard's first doc)
    "q64_seq_packing" ->
      """WITH RECURSIVE o AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16 AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tok,
        |    row_number() OVER (PARTITION BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 16
        |                       ORDER BY doc_id) AS rn
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, shard, n_tok, rn,
        |         CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset, n_tok AS fill
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.shard, o.n_tok, o.rn,
        |    CASE WHEN p.fill + o.n_tok > 512 AND p.fill > 0 THEN p.seq_id + 1 ELSE p.seq_id END,
        |    CASE WHEN p.fill + o.n_tok > 512 AND p.fill > 0 THEN CAST(0 AS BIGINT) ELSE p.fill END,
        |    CASE WHEN p.fill + o.n_tok > 512 AND p.fill > 0 THEN o.n_tok ELSE p.fill + o.n_tok END
        |  FROM o JOIN p ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT doc_id, shard, seq_id, seq_offset, n_tok AS n_tokens
        |FROM p ORDER BY doc_id""".stripMargin,

    // re-derives the salted md5 keep-decision row-for-row, then the same
    // per-source report — exact integer ppm thresholds in both engines
    "q65_domain_mix" ->
      """WITH k AS (
        |  SELECT source, doc_id,
        |    ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 8))::BIGINT % 1000000 AS b,
        |    CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000
        |                WHEN 'src2' THEN 250000 ELSE 100000 END AS ppm
        |  FROM documents)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(coalesce(count(*) FILTER (WHERE b < ppm), 0) AS BIGINT) AS n_kept,
        |  min(doc_id) FILTER (WHERE b < ppm) AS min_kept_id,
        |  max(doc_id) FILTER (WHERE b < ppm) AS max_kept_id
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    // re-ranks with the shared bit-reproducible quality fragment (q21): the
    // double scores compare exactly, so rank order — and the kept set — is
    // engine-independent (ties broken by doc_id in both engines)
    "q66_domain_cap" ->
      s"""WITH qual AS (${qualityOracle.stripSuffix(" ORDER BY doc_id")}),
         |r AS (
         |  SELECT d.doc_id, d.source,
         |         row_number() OVER (PARTITION BY d.source
         |                            ORDER BY qual.quality DESC, d.doc_id ASC) AS rn
         |  FROM documents d JOIN qual ON qual.doc_id = d.doc_id)
         |SELECT doc_id, source FROM r WHERE rn <= 15 ORDER BY doc_id""".stripMargin,

    // the synthetic duration is md5-derived (engine-portable), so the frame
    // count is fully re-derivable: floor(duration/10s) + 1 frames per video
    "q24_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id AS asset_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':d'), 1, 8))::BIGINT % 600000 AS duration_ms
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT asset_id, CAST(duration_ms // 10000 + 1 AS BIGINT) AS n_frames
        |FROM v ORDER BY asset_id""".stripMargin,

    // the round-trip collapses back to the direct aggregation
    "q97_unpivot" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q96_audio_segments" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':d'), 1, 8))::BIGINT % 600000 AS duration_ms
        |  FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        |  SELECT asset_id, duration_ms,
        |    unnest(generate_series(0, greatest((duration_ms + 29999) // 30000 - 1, 0))) AS seg_idx
        |  FROM a)
        |SELECT asset_id, seg_idx,
        |  seg_idx * 30000 AS seg_start_ms,
        |  least(30000, duration_ms - seg_idx * 30000) AS seg_ms,
        |  ('0x' || substr(md5(asset_id::VARCHAR || ':seg:' || seg_idx::VARCHAR), 1, 8))::BIGINT % 1000000 AS energy_ppm
        |FROM s ORDER BY asset_id, seg_idx""".stripMargin,

    "q29_window_lag" ->
      """SELECT event_id, user_id,
        |  value - lag(value) OVER w AS delta,
        |  lead(event_id) OVER w AS next_event_id
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q30_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q31_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE c_mktsegment = 'MACHINERY'
        |  AND EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1995)
        |ORDER BY c_custkey""".stripMargin,

    "q32_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1998)
        |ORDER BY c_custkey""".stripMargin,

    "q33_range_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click')
        |SELECT p_id, CAST(count(c_id) AS BIGINT) AS n_clicks_1h
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        |GROUP BY p_id ORDER BY p_id""".stripMargin,

    "q34_stream_window" ->
      """SELECT date_trunc('day', ts) AS day_start, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day_start, event_type""".stripMargin,

    // the streaming interval join must emit exactly the batch join's pairs
    // (AvailableNow drains the bounded source, inner join, so watermarks
    // only bound state — they cannot drop matches)
    "q68_stream_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click')
        |SELECT p.p_id, c.c_id
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        |ORDER BY p_id, c_id""".stripMargin,

    // the same cut the Spark side applies: every matched pair, plus null
    // rows only for purchases finalized ≥1 s below the final watermark
    // (min of the two sides' max event times, minus the 1 h delay)
    "q95_stream_outer_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
        |w AS (SELECT least((SELECT max(p_ts) FROM p), (SELECT max(c_ts) FROM c))
        |             - INTERVAL 1 HOUR - INTERVAL 1 SECOND AS wm),
        |j AS (
        |  SELECT p.p_id, c.c_id, p.p_ts
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id
        |    AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR)
        |SELECT p_id, c_id FROM j, w
        |WHERE c_id IS NOT NULL OR p_ts <= w.wm
        |ORDER BY p_id, c_id NULLS FIRST""".stripMargin,

    "q84_stream_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM x
        |), g AS (
        |  SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM y GROUP BY user_id, session_id
        |)
        |SELECT user_id, session_start, session_end, n_events
        |FROM g WHERE session_id < (SELECT max(g2.session_id) FROM g g2 WHERE g2.user_id = g.user_id)
        |ORDER BY user_id, session_start""".stripMargin,

    "q83_stream_static" ->
      """WITH dim AS (
        |  SELECT user_id, value AS last_purchase_value FROM (
        |    SELECT user_id, value,
        |      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE event_type = 'purchase') t WHERE rn = 1),
        |c AS (SELECT user_id, event_id FROM events WHERE event_type = 'click')
        |SELECT c.user_id, dim.last_purchase_value, CAST(count(*) AS BIGINT) AS n_clicks
        |FROM c JOIN dim ON dim.user_id = c.user_id
        |GROUP BY c.user_id, dim.last_purchase_value ORDER BY c.user_id""".stripMargin,

    "q57_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q35_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5)  AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q36_tpch_q3" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin,

    // hourly grid re-derived with generate_series; forward fill emulated
    // with the same backward-as-of convention as q04 (latest ts ≤ slot,
    // ties by event_id DESC)
    "q75_resample_ffill" ->
      """WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
        |g AS (
        |  SELECT user_id,
        |    unnest(generate_series(date_trunc('hour', min(ts)),
        |                           date_trunc('hour', max(ts)), INTERVAL 1 HOUR)) AS hour_ts
        |  FROM p GROUP BY user_id
        |), j AS (
        |  SELECT g.user_id, g.hour_ts, p.value, p.ts,
        |    row_number() OVER (PARTITION BY g.user_id, g.hour_ts
        |                       ORDER BY p.ts DESC, p.event_id DESC) AS rn
        |  FROM g LEFT JOIN p ON p.user_id = g.user_id AND p.ts <= g.hour_ts
        |)
        |SELECT user_id, hour_ts, value AS last_value, ts AS asof_ts
        |FROM j WHERE rn = 1 ORDER BY user_id, hour_ts""".stripMargin,

    "q73_tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin,

    "q85_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, sum_qty
        |FROM orders JOIN big ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY price_cents DESC, o_orderkey""".stripMargin,

    "q74_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q76_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
        |                ELSE regexp_split_to_array(trim(lower(text)), '\s+') END) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks
        |       WHERE length(token) > 0 GROUP BY doc_id, token),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
        |  FROM scored)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, CAST(tf AS BIGINT) AS tf,
        |  CAST(df AS BIGINT) AS df, score
        |FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "q77_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 7),
        |                          i -> array_to_string(toks[i:i+7], ' '))) AS span
        |  FROM t WHERE len(toks) >= 8),
        |h AS (SELECT doc_id, ('0x' || substr(md5(span), 1, 15))::BIGINT AS span_hash FROM s),
        |g AS (SELECT span_hash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ,
        |             min(doc_id) AS first_doc
        |      FROM h GROUP BY span_hash)
        |SELECT span_hash, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_occ AS BIGINT) AS n_occ,
        |  CAST(first_doc AS BIGINT) AS first_doc
        |FROM g WHERE n_docs >= 2 ORDER BY n_occ DESC, span_hash""".stripMargin,

    "q78_bigram_coverage" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CASE WHEN length(lower(text)) <= 2 THEN [lower(text)]
        |         ELSE list_transform(generate_series(1, length(lower(text)) - 1),
        |                             i -> substr(lower(text), i, 2)) END AS bis
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(bis) AS bg FROM b),
        |top AS (SELECT bg FROM (SELECT bg, count(*) AS n FROM p GROUP BY bg
        |                        ORDER BY n DESC, bg LIMIT 500)),
        |it AS (SELECT doc_id, count(*) AS n_in_top FROM p
        |       WHERE bg IN (SELECT bg FROM top) GROUP BY doc_id),
        |d AS (SELECT b.doc_id, len(bis) AS n_bigrams, coalesce(it.n_in_top, 0) AS n_in_top
        |      FROM b LEFT JOIN it ON it.doc_id = b.doc_id)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, CAST(n_in_top AS BIGINT) AS n_in_top,
        |  CASE WHEN n_bigrams = 0 THEN 0.0 ELSE CAST(n_in_top AS DOUBLE) / CAST(n_bigrams AS DOUBLE) END AS coverage
        |FROM d ORDER BY doc_id""".stripMargin,

    "q79_salted_join" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q80_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "q81_funnel" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM x
        |), f1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
        |              OVER (PARTITION BY user_id, session_id) AS t1 FROM y
        |), f2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
        |              OVER (PARTITION BY user_id, session_id) AS t2 FROM f1
        |), f3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
        |              OVER (PARTITION BY user_id, session_id) AS t3 FROM f2
        |), per AS (
        |  SELECT user_id, session_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
        |  FROM f3 GROUP BY user_id, session_id
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(count(t1) AS BIGINT) AS n_view,
        |  CAST(count(t2) AS BIGINT) AS n_click_after_view,
        |  CAST(count(t3) AS BIGINT) AS n_full_funnel
        |FROM per""".stripMargin,

    "q82_zorder" -> {
      val terms = (0 until 16).map(i =>
        s"((((u >> $i) & 1) << ${2 * i}) | (((v >> $i) & 1) << ${2 * i + 1}))").mkString(" | ")
      s"""WITH b AS (SELECT event_id, user_id & 65535 AS u,
         |  CAST(round(value * 100) AS BIGINT) & 65535 AS v FROM events)
         |SELECT event_id, CAST(($terms) AS BIGINT) AS zv FROM b ORDER BY event_id""".stripMargin
    },

    "q157_zorder3" -> zorder3Oracle,
    // identical interleave derived from SQL text — one oracle serves both
    "q162_zorder3_sql" -> zorder3Oracle,

    // the content-addressed order re-derives exactly on any engine
    "q164_corpus_order" ->
      """SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |                          ORDER BY md5(doc_id::VARCHAR), doc_id) AS BIGINT) AS pos
        |FROM (SELECT doc_id,
        |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard
        |      FROM documents)
        |ORDER BY shard, pos""".stripMargin,

    // the ENTIRE perceptual-hash pipeline re-derived from first principles:
    // closed-form pixels → integer-grid sampling → 63 gradient-sign bits →
    // 4 pigeonhole bands → skew-capped pair expansion → bit_count(xor)
    // verification → min-id marks. No candidate dump — the oracle is
    // independent of the engine's decode path end to end.
    "q165_image_phash" ->
      (dhashCte +
      """grp AS (SELECT dhash, min(asset_id) AS rep FROM hashes GROUP BY dhash),
        |bands AS (SELECT dhash, b, (dhash >> (b*16)) & 65535 AS key
        |          FROM grp, range(4) tb(b)),
        |sized AS (SELECT b, key FROM bands GROUP BY b, key
        |          HAVING count(*) BETWEEN 2 AND 1000),
        |sp AS (SELECT DISTINCT x.dhash AS sa, y.dhash AS sb
        |       FROM bands x
        |       JOIN bands y ON x.b = y.b AND x.key = y.key AND x.dhash < y.dhash
        |       JOIN sized s ON s.b = x.b AND s.key = x.key
        |       WHERE bit_count(xor(x.dhash, y.dhash)) <= 3),
        |nmin AS (SELECT sh, min(nrep) AS nmin FROM (
        |           SELECT sa AS sh, g.rep AS nrep FROM sp JOIN grp g ON g.dhash = sp.sb
        |           UNION ALL
        |           SELECT sb AS sh, g.rep AS nrep FROM sp JOIN grp g ON g.dhash = sp.sa)
        |         GROUP BY sh)
        |SELECT h.asset_id, h.dhash,
        |       h.asset_id > least(g.rep, coalesce(n.nmin, g.rep)) AS is_duplicate
        |FROM hashes h JOIN grp g ON g.dhash = h.dhash
        |LEFT JOIN nmin n ON n.sh = h.dhash
        |ORDER BY asset_id""".stripMargin),

    // q154's closed-form window arithmetic at 25 ms, the integer activity
    // verdict, and the island merge replayed exactly
    "q171_vad_segments" ->
      """WITH a AS (SELECT c_custkey AS asset_id, 800 + (c_custkey % 7) * 400 AS n
        |           FROM customer WHERE c_custkey % 3 = 1),
        |w AS (SELECT asset_id, n,
        |             unnest(generate_series(0, (n + 199) // 200 - 1)) AS seg_idx
        |      FROM a),
        |px AS (SELECT asset_id, seg_idx,
        |              unnest(generate_series(seg_idx * 200,
        |                                     least(n, seg_idx * 200 + 200) - 1)) AS i
        |       FROM w),
        |seg AS (SELECT asset_id, seg_idx, count(*) AS n_samples,
        |          sum(((asset_id*31 + i*7) % 2003 - 1001)
        |            * ((asset_id*31 + i*7) % 2003 - 1001)) AS sum_sq
        |        FROM px GROUP BY asset_id, seg_idx),
        |act AS (SELECT *, seg_idx - row_number() OVER (PARTITION BY asset_id
        |                                               ORDER BY seg_idx) AS island
        |        FROM seg WHERE sum_sq >= 334000 * n_samples)
        |SELECT asset_id,
        |  CAST(min(seg_idx) AS BIGINT) AS start_idx,
        |  CAST(max(seg_idx) AS BIGINT) AS end_idx,
        |  CAST(min(seg_idx) * 25 AS BIGINT) AS start_ms,
        |  CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(n_samples) AS BIGINT) AS n_samples,
        |  CAST(sum(sum_sq) AS BIGINT) AS sum_sq
        |FROM act GROUP BY asset_id, island
        |ORDER BY asset_id, start_idx""".stripMargin,

    // incremental flow replayed with NO dump: the sig-collapsed universe
    // (side tags, reps), the diversity cap, the group-level index-canonical
    // drop rule and the marks all re-derive from first-principles hashes
    "q169_image_dedup_incremental" ->
      (dhashCte +
      """u AS (SELECT dhash AS sh,
        |        coalesce(min(CASE WHEN asset_id % 2 = 1 THEN asset_id END),
        |                 9223372036854775807) AS rep,
        |        bool_or(asset_id % 2 = 1) AS has_new,
        |        bool_or(asset_id % 2 = 0) AS in_index
        |      FROM hashes GROUP BY dhash),
        |bands AS (SELECT sh, b, (sh >> (b*16)) & 65535 AS key FROM u, range(4) tb(b)),
        |sized AS (SELECT b, key FROM bands GROUP BY b, key
        |          HAVING count(*) BETWEEN 2 AND 1000),
        |sp AS (SELECT DISTINCT x.sh AS sa, y.sh AS sb
        |       FROM bands x JOIN bands y ON x.b = y.b AND x.key = y.key AND x.sh < y.sh
        |       JOIN sized s ON s.b = x.b AND s.key = x.key),
        |spf AS (SELECT sa, sb, ua.has_new AS new_a, ua.in_index AS idx_a, ua.rep AS rep_a,
        |               ub.has_new AS new_b, ub.in_index AS idx_b, ub.rep AS rep_b
        |        FROM sp JOIN u ua ON ua.sh = sp.sa JOIN u ub ON ub.sh = sp.sb
        |        WHERE (ua.has_new OR ub.has_new) AND bit_count(xor(sa, sb)) <= 3),
        |nbr AS (SELECT sh, bool_or(n_idx) AS idx_near, min(n_rep) AS nmin FROM (
        |          SELECT sa AS sh, idx_b AS n_idx, CASE WHEN new_b THEN rep_b END AS n_rep FROM spf
        |          UNION ALL
        |          SELECT sb AS sh, idx_a AS n_idx, CASE WHEN new_a THEN rep_a END AS n_rep FROM spf)
        |        GROUP BY sh)
        |SELECT h.asset_id AS doc_id,
        |  (u.in_index OR coalesce(n.idx_near, false)
        |   OR h.asset_id > least(u.rep, coalesce(n.nmin, u.rep))) AS is_duplicate
        |FROM hashes h JOIN u ON u.sh = h.dhash
        |LEFT JOIN nbr n ON n.sh = h.dhash
        |WHERE h.asset_id % 2 = 1
        |ORDER BY doc_id""".stripMargin),

    // the streaming face: per-batch sig universes, pair candidates, and the
    // doc→batch map come from the three dumps (file-split batching is
    // nondeterministic); the HASHES and the hamming verification come from
    // FIRST PRINCIPLES, so a decode fault on either side breaks the gate
    "q170_stream_image_dedup" ->
      (dhashCte +
      """db AS (SELECT doc_id, regexp_extract(filename, '/(b\d+)/docs/', 1) AS batch
        |       FROM read_parquet('{AUX}/q170_candidates/*/docs/*.parquet', filename = true)),
        |sg AS (SELECT sh, rep, has_new, in_index,
        |              regexp_extract(filename, '/(b\d+)/sigs/', 1) AS batch
        |       FROM read_parquet('{AUX}/q170_candidates/*/sigs/*.parquet', filename = true)),
        |sp AS (SELECT id_a AS sa, id_b AS sb, new_a, new_b, idx_a, idx_b, rep_a, rep_b,
        |              regexp_extract(filename, '/(b\d+)/pairs/', 1) AS batch
        |       FROM read_parquet('{AUX}/q170_candidates/*/pairs/*.parquet', filename = true)
        |       WHERE bit_count(xor(id_a, id_b)) <= 3),
        |nbr AS (SELECT batch, sh, bool_or(n_idx) AS idx_near, min(n_rep) AS nmin FROM (
        |          SELECT batch, sa AS sh, idx_b AS n_idx,
        |                 CASE WHEN new_b THEN rep_b END AS n_rep FROM sp
        |          UNION ALL
        |          SELECT batch, sb AS sh, idx_a AS n_idx,
        |                 CASE WHEN new_a THEN rep_a END AS n_rep FROM sp)
        |        GROUP BY batch, sh),
        |marks AS (SELECT d.doc_id,
        |            (u.in_index OR coalesce(n.idx_near, false)
        |             OR d.doc_id > least(u.rep, coalesce(n.nmin, u.rep))) AS is_duplicate
        |          FROM db d JOIN hashes h ON h.asset_id = d.doc_id
        |          JOIN sg u ON u.batch = d.batch AND u.sh = h.dhash
        |          LEFT JOIN nbr n ON n.batch = d.batch AND n.sh = h.dhash)
        |SELECT t.asset_id AS doc_id, coalesce(m.is_duplicate, true) AS is_duplicate
        |FROM (SELECT asset_id FROM hashes WHERE asset_id % 2 = 1) t
        |LEFT JOIN marks m ON m.doc_id = t.asset_id
        |ORDER BY doc_id""".stripMargin),

    // the same first-principles hashes, ranked: exact hamming top-k per
    // query with the (hamming asc, nbr_id asc) deterministic tie-break
    "q168_image_hamming_topk" ->
      (dhashCte +
      """q AS (SELECT asset_id AS query_id, dhash AS q_sh FROM hashes WHERE asset_id < 10),
        |scored AS (
        |  SELECT query_id, c.asset_id AS nbr_id,
        |         bit_count(xor(q_sh, c.dhash)) AS hamming,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY bit_count(xor(q_sh, c.dhash)), c.asset_id) AS nbr_rank
        |  FROM q JOIN hashes c ON c.asset_id <> q.query_id)
        |SELECT query_id, CAST(nbr_rank AS BIGINT) AS nbr_rank, nbr_id,
        |       CAST(hamming AS INT) AS hamming
        |FROM scored WHERE nbr_rank <= 5 ORDER BY query_id, nbr_rank""".stripMargin),

    // fixed-width buckets + Laplace smoothing + dense spine replayed
    // exactly; ln is the only irrational step (round 6 dp both sides)
    "q163_psi_drift" -> psiOracle,

    // the streaming monitor folds per-micro-batch bucket counts and equals
    // the one-shot PSI exactly (counts are linear) — q163's oracle verbatim
    // is the mergeability proof, the q122/q123 green-pair pattern
    "q166_stream_psi" -> psiOracle,

    "q37_csv_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        |  max(ts) AS max_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q38_pivot" ->
      """SELECT user_id,
        |  CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
        |  CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
        |  CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the approx estimates are engine-specific; what IS oracled: the exact
    // distinct counts, and the 3σ bound claim as a boolean the oracle pins
    // to TRUE (an out-of-bound estimate flips the hash red)
    "q39_approx_distinct" ->
      """SELECT event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q43_hll_sketch" ->
      """SELECT event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS approx_ok
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT '__all__', CAST(count(DISTINCT user_id) AS BIGINT), TRUE FROM events
        |ORDER BY event_type""".stripMargin,

    "q40_dedup_cc" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         min(doc_id) OVER (PARTITION BY source, doc_id // 500) AS component,
        |         count(*)    OVER (PARTITION BY source, doc_id // 500) AS n
        |  FROM documents)
        |SELECT doc_id AS node, component FROM g WHERE n > 1 ORDER BY node""".stripMargin,

    "q42_session_window" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM x
        |)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM y GROUP BY user_id, session_id ORDER BY user_id, session_start""".stripMargin,

    "q44_point_in_time" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, ts AS label_ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
        |j AS (
        |  SELECT p.p_id, p.user_id, p.label_ts,
        |         v.event_id AS asof_event_id, v.value AS asof_value, v.ts AS asof_ts,
        |         row_number() OVER (PARTITION BY p.p_id ORDER BY v.ts DESC) AS rn
        |  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.label_ts)
        |SELECT p_id, user_id, label_ts, asof_event_id, asof_value, asof_ts
        |FROM j WHERE rn = 1 ORDER BY p_id""".stripMargin,

    "q59_pit_multi" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, ts AS label_ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
        |c AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
        |jv AS (
        |  SELECT p.p_id, v.event_id AS views_fg_asof_event_id, v.value AS views_fg_asof_value,
        |         row_number() OVER (PARTITION BY p.p_id ORDER BY v.ts DESC) AS rn
        |  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.label_ts),
        |jc AS (
        |  SELECT p.p_id, c.event_id AS clicks_fg_asof_event_id, c.value AS clicks_fg_asof_value,
        |         row_number() OVER (PARTITION BY p.p_id ORDER BY c.ts DESC) AS rn
        |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.label_ts)
        |SELECT p.p_id, p.user_id, p.label_ts,
        |       jv.views_fg_asof_event_id, jv.views_fg_asof_value,
        |       jc.clicks_fg_asof_event_id, jc.clicks_fg_asof_value
        |FROM p
        |LEFT JOIN jv ON jv.p_id = p.p_id AND jv.rn = 1
        |LEFT JOIN jc ON jc.p_id = p.p_id AND jc.rn = 1
        |ORDER BY p.p_id""".stripMargin,

    "q45_text_clean" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^\s]+', '<URL>', 'g'),
        |    '\s+', ' ', 'g')) AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q46_vocab" ->
      """WITH toks AS (
        |  SELECT unnest(CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
        |                     ELSE regexp_split_to_array(trim(lower(text)), '\s+') END) AS token
        |  FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS n
        |FROM toks WHERE length(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,

    "q48_sql_text" ->
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q49_set_ops" ->
      """WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
        |SELECT 'both' AS op, user_id FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM c)
        |UNION ALL
        |SELECT 'purchase_only' AS op, user_id FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM c)
        |ORDER BY op, user_id""".stripMargin,

    "q58_corpus_report" ->
      s"""WITH qual AS (${qualityOracle.stripSuffix(" ORDER BY doc_id")}),
         |b AS (
         |  SELECT doc_id, text,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
         |  FROM documents
         |), s AS (
         |  SELECT b.doc_id, b.text, qual.quality,
         |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM b JOIN qual ON qual.doc_id = b.doc_id
         |)
         |SELECT split,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS sum_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
         |  CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS BIGINT) AS sum_quality_micros,
         |  CAST(count(*) FILTER (quality >= 0.5) AS BIGINT) AS n_quality_pass
         |FROM s GROUP BY split ORDER BY split""".stripMargin,

    "q50_correlated_max" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    // the JSONL roundtrip is lossless, so the oracle recomputes straight
    // from the stored table (props.k re-derived from the JSON string)
    "q87_json_lines" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(user_id) AS max_user
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q88_orc_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
        |  max(ts) AS max_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q89_doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, text, greatest(length(text), 1) AS len FROM documents
        |), e AS (
        |  SELECT doc_id, text, unnest(generate_series(1, len, 192)) AS s FROM d
        |), c AS (
        |  SELECT doc_id, CAST((s - 1) // 192 AS BIGINT) AS chunk_id,
        |         substring(text, CAST(s AS INTEGER), 256) AS chunk
        |  FROM e
        |)
        |SELECT doc_id, chunk_id,
        |  CAST(length(chunk) AS BIGINT) AS chunk_len, md5(chunk) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q90_vec_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS ma
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id,
        |    CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END AS scale,
        |    list_transform(v, x -> CAST(round(x * (CASE WHEN ma > 0 THEN 127.0 / ma ELSE 0.0 END)) AS INTEGER)) AS qv
        |  FROM s
        |)
        |SELECT vec_id, scale,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1
        |FROM q ORDER BY vec_id""".stripMargin,

    "q91_winsorize" ->
      """WITH b AS (
        |  SELECT event_type, quantile_cont(value, 0.01) AS p01,
        |         quantile_cont(value, 0.99) AS p99
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type, b.p01, b.p99,
        |  CAST(count(*) FILTER (e.value < b.p01) AS BIGINT) AS n_low,
        |  CAST(count(*) FILTER (e.value > b.p99) AS BIGINT) AS n_high,
        |  CAST(sum(CAST(round(greatest(b.p01, least(b.p99, e.value)) * 100) AS BIGINT)) AS BIGINT) AS sum_winsorized_cents
        |FROM events e JOIN b ON b.event_type = e.event_type
        |GROUP BY e.event_type, b.p01, b.p99 ORDER BY e.event_type""".stripMargin,

    "q92_dominant_supplier" ->
      """WITH li AS (
        |  SELECT l_suppkey, l_partkey, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
        |), sp AS (
        |  SELECT l_suppkey, l_partkey, sum(qty) AS supp_qty FROM li GROUP BY 1, 2
        |), pt AS (
        |  SELECT l_partkey, sum(qty) AS part_qty FROM li GROUP BY 1
        |), dom AS (
        |  SELECT DISTINCT sp.l_suppkey
        |  FROM sp JOIN pt ON pt.l_partkey = sp.l_partkey
        |  WHERE sp.supp_qty * 5 > pt.part_qty
        |)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
        |ORDER BY s_suppkey""".stripMargin,

    "q93_approx_quantile" ->
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS p50_exact,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q94_window_rank_stats" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q98_interval_frame" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |  CAST(sum(cents) OVER w AS BIGINT) AS spend_30d_cents,
        |  CAST(count(*) OVER w AS BIGINT) AS n_orders_30d
        |FROM (SELECT o_orderkey, o_custkey, o_orderdate,
        |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q99_scd2_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events
        |), c AS (
        |  SELECT user_id, event_type, ts,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |  FROM e WHERE prev_type IS NULL OR prev_type <> event_type
        |)
        |SELECT user_id, event_type AS state, ts AS valid_from, valid_to
        |FROM c
        |ORDER BY user_id, valid_from, state, valid_to NULLS FIRST""".stripMargin,

    "q100_fuzzy_linkage" ->
      """WITH clean AS (
        |  SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk FROM part
        |), probe AS (
        |  SELECT p_partkey AS probe_id, regexp_replace(p_name, '\s+\S+$', '') AS dirty FROM part
        |), cand AS (
        |  SELECT pr.probe_id, c.p_partkey, levenshtein(pr.dirty, c.p_name) AS dist
        |  FROM probe pr JOIN clean c ON split_part(pr.dirty, ' ', 1) = c.blk
        |), ranked AS (
        |  SELECT probe_id, p_partkey, dist,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY dist, p_partkey) AS rn
        |  FROM cand
        |)
        |SELECT probe_id, p_partkey AS match_id, CAST(dist AS BIGINT) AS dist
        |FROM ranked WHERE rn = 1 ORDER BY probe_id""".stripMargin,

    "q101_mad_outliers" ->
      """WITH b AS (
        |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) * 2 AS hc
        |  FROM lineitem
        |), m AS (
        |  SELECT l_returnflag, CAST(quantile_cont(hc, 0.5) AS BIGINT) AS med_hc
        |  FROM b GROUP BY l_returnflag
        |), r AS (
        |  SELECT b.l_returnflag, b.hc, m.med_hc, abs(b.hc - m.med_hc) AS resid
        |  FROM b JOIN m ON b.l_returnflag = m.l_returnflag
        |), d AS (
        |  SELECT l_returnflag, CAST(quantile_cont(resid * 2, 0.5) AS BIGINT) AS mad_qc
        |  FROM r GROUP BY l_returnflag
        |)
        |SELECT r.l_returnflag, r.med_hc, d.mad_qc,
        |  CAST(count(*) FILTER (WHERE resid > 5 * mad_qc) AS BIGINT) AS n_outliers,
        |  CAST(sum(hc) FILTER (WHERE resid > 5 * mad_qc) AS BIGINT) AS outlier_hc_sum
        |FROM r JOIN d ON r.l_returnflag = d.l_returnflag
        |GROUP BY r.l_returnflag, r.med_hc, d.mad_qc
        |ORDER BY r.l_returnflag""".stripMargin,

    // the q18 rerank contract verbatim, over the stage-1 int8 candidates
    "q102_two_stage_ann" ->
      cosineRerankOracle("q102_candidates"),

    "q103_cohort_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts::DATE - DATE '1970-01-01' AS BIGINT) AS d FROM events
        |), c AS (
        |  SELECT user_id, d, min(d) OVER (PARTITION BY user_id) AS cohort FROM ud
        |)
        |SELECT cohort AS cohort_day, d - cohort AS day_offset, CAST(count(*) AS BIGINT) AS n_users
        |FROM c GROUP BY cohort, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "q104_basket_pairs" ->
      """WITH d AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |), pr AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |)
        |SELECT p1, p2, CAST(count(*) AS BIGINT) AS support
        |FROM pr GROUP BY p1, p2 HAVING count(*) >= 2
        |ORDER BY p1, p2""".stripMargin,

    "q105_markov_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
        |  FROM events
        |), n AS (
        |  SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE to_state IS NOT NULL GROUP BY from_state, to_state
        |), tot AS (
        |  SELECT from_state, CAST(sum(n) AS BIGINT) AS tot FROM n GROUP BY from_state
        |)
        |SELECT n.from_state, n.to_state, n.n, CAST(n.n * 1000000 // tot.tot AS BIGINT) AS ppm
        |FROM n JOIN tot ON n.from_state = tot.from_state
        |ORDER BY n.from_state, n.to_state""".stripMargin,

    "q106_stream_dedup_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q107_profile" ->
      """SELECT c AS column_name, n_nulls, n_distinct FROM (
        |  SELECT 'event_id' AS c, CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
        |         CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct FROM events
        |  UNION ALL
        |  SELECT 'event_type', CAST(count(*) - count(event_type) AS BIGINT),
        |         CAST(count(DISTINCT event_type) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'props', CAST(count(*) - count(props) AS BIGINT),
        |         CAST(count(DISTINCT props) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'ts', CAST(count(*) - count(ts) AS BIGINT),
        |         CAST(count(DISTINCT ts) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(count(*) - count(user_id) AS BIGINT),
        |         CAST(count(DISTINCT user_id) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'value', CAST(count(*) - count(value) AS BIGINT),
        |         CAST(count(DISTINCT value) AS BIGINT) FROM events
        |)
        |ORDER BY column_name""".stripMargin,

    // merge LEARNING is engine-specific (dumped); APPLICATION is replayed
    // in full: a recursive CTE walks the merge table in rank order, each
    // step folding every word's symbol list left-to-right (list slices are
    // end-INCLUSIVE in DuckDB, hence acc[:-2] to drop the merged-away last
    // element), then the doc rollup re-derives word + token counts
    "q108_bpe_tokenize" ->
      """WITH RECURSIVE merges AS (
        |  SELECT rank, l, r FROM read_parquet('{AUX}/q108_merges/*.parquet')
        |), vocab AS (
        |  SELECT DISTINCT word FROM (
        |    SELECT unnest(string_split_regex(regexp_replace(lower(text), '[^a-z]+', ' '), ' ')) AS word
        |    FROM documents) WHERE length(word) > 0
        |), enc(word, syms, step) AS (
        |  SELECT word, regexp_extract_all(word, '.'), 0 FROM vocab
        |  UNION ALL
        |  SELECT e.word,
        |    list_reduce(list_transform(e.syms, c -> [c]),
        |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.l AND x[1] = m.r
        |                       THEN list_append(acc[:-2], m.l || m.r)
        |                       ELSE list_append(acc, x[1]) END),
        |    e.step + 1
        |  FROM enc e JOIN merges m ON m.rank = e.step + 1
        |), final AS (
        |  SELECT word, len(syms) AS wt FROM enc
        |  WHERE step = (SELECT max(rank) FROM merges)
        |), dw AS (
        |  SELECT doc_id, unnest(string_split_regex(regexp_replace(lower(text), '[^a-z]+', ' '), ' ')) AS word
        |  FROM documents
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, CAST(sum(f.wt) AS BIGINT) AS n_bpe_tokens
        |FROM dw JOIN final f USING (word)
        |WHERE length(word) > 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q109_attribution" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.p_id, c.c_id, c.c_ts
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
        |), w AS (
        |  SELECT p_id, c_id,
        |    CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS n_touch,
        |    row_number() OVER (PARTITION BY p_id ORDER BY c_ts DESC, c_id DESC) AS rn
        |  FROM j
        |)
        |SELECT p_id, c_id, n_touch,
        |  CAST(CASE WHEN rn = 1 THEN 1000000 - (n_touch - 1) * (1000000 // n_touch)
        |       ELSE 1000000 // n_touch END AS BIGINT) AS credit_ppm
        |FROM w ORDER BY p_id, c_id""".stripMargin,

    "q110_moving_median" ->
      """SELECT event_id, user_id,
        |  CAST(quantile_cont(vc2, 0.5) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS med5_hc
        |FROM (SELECT event_id, user_id, ts,
        |        CAST(round(value * 100) AS BIGINT) * 2 AS vc2 FROM events)
        |ORDER BY event_id""".stripMargin,

    "q111_cdc_merge" ->
      """WITH ev AS (SELECT user_id, event_id, ts, event_type,
        |                   CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |b AS (SELECT user_id, event_id, ts, vc FROM (
        |    SELECT user_id, event_id, ts, vc,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev WHERE ts < TIMESTAMP '2024-01-16') WHERE rn = 1),
        |n AS (SELECT user_id, event_id, ts, vc,
        |             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op FROM (
        |    SELECT user_id, event_id, ts, vc, event_type,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev WHERE ts >= TIMESTAMP '2024-01-16') WHERE rn = 1)
        |SELECT coalesce(n.user_id, b.user_id) AS user_id,
        |       CASE WHEN n.user_id IS NOT NULL THEN n.event_id ELSE b.event_id END AS event_id,
        |       CASE WHEN n.user_id IS NOT NULL THEN n.ts ELSE b.ts END AS ts,
        |       CASE WHEN n.user_id IS NOT NULL THEN n.vc ELSE b.vc END AS vc
        |FROM b FULL JOIN n ON b.user_id = n.user_id
        |WHERE n.op IS NULL OR n.op <> 'D'
        |ORDER BY user_id""".stripMargin,

    "q112_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |isl AS (SELECT user_id,
        |               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS grp
        |        FROM days),
        |st AS (SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
        |       CAST(max(len) AS BIGINT) AS longest_streak,
        |       CAST(sum(len) AS BIGINT) AS active_days
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q113_domain_divergence" ->
      """WITH toks AS (
        |  SELECT source,
        |    unnest(CASE WHEN length(trim(lower(text))) = 0 THEN CAST([] AS VARCHAR[])
        |                ELSE regexp_split_to_array(trim(lower(text)), '\s+') END) AS token
        |  FROM documents),
        |c AS (SELECT source, token, count(*) AS c FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
        |d AS (SELECT token, sum(c) AS d FROM c GROUP BY 1),
        |n AS (SELECT source, sum(c) AS n FROM c GROUP BY 1),
        |m AS (SELECT sum(d) AS m FROM d),
        |a AS (SELECT c.source, max(n.n) AS n_tok, max(m.m) AS m_tot,
        |             sum(abs(c.c * m.m - d.d * n.n)) AS sum_abs,
        |             sum(d.d * n.n) AS sum_dn,
        |             sum(c.c * c.c) AS sum_c2
        |      FROM c JOIN d USING (token) JOIN n USING (source) CROSS JOIN m
        |      GROUP BY c.source)
        |SELECT source, CAST(n_tok AS BIGINT) AS n_tokens,
        |  CAST((n_tok * n_tok - sum_c2) * 1000000 // (n_tok * n_tok) AS BIGINT) AS simpson_ppm,
        |  CAST((sum_abs + m_tot * n_tok - sum_dn) * 500000 // (n_tok * m_tot) AS BIGINT) AS tv_ppm
        |FROM a ORDER BY source""".stripMargin,

    "q114_histogram" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM o)
        |SELECT CAST(least((cents - lo) * 20 // (hi - lo + 1), 19) AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       min(cents) AS min_cents, max(cents) AS max_cents,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM o CROSS JOIN b GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q115_robust_scale" ->
      """WITH ev AS (SELECT event_id, event_type,
        |                   CAST(round(value * 100) AS BIGINT) * 4 AS vc4 FROM events),
        |q AS (SELECT event_type,
        |             CAST(quantile_cont(vc4, 0.25) AS BIGINT) AS q1,
        |             CAST(quantile_cont(vc4, 0.5)  AS BIGINT) AS med,
        |             CAST(quantile_cont(vc4, 0.75) AS BIGINT) AS q3
        |      FROM ev GROUP BY event_type)
        |SELECT event_id, ev.event_type,
        |       CASE WHEN q3 > q1 THEN CAST((vc4 - med) * 1000000 // (q3 - q1) AS BIGINT) END AS z_ppm
        |FROM ev JOIN q ON ev.event_type = q.event_type
        |ORDER BY event_id""".stripMargin,

    "q116_stratified_sample" ->
      """WITH d AS (SELECT source, doc_id,
        |                  md5(CAST(doc_id AS VARCHAR) || ':' || source) AS h FROM documents),
        |r AS (SELECT source, doc_id,
        |             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn,
        |             count(*) OVER (PARTITION BY source) AS cnt
        |      FROM d)
        |SELECT source, doc_id, CAST(rn AS BIGINT) AS rank_in_stratum
        |FROM r WHERE rn <= (cnt + 4) // 5 ORDER BY source, doc_id""".stripMargin,

    "q117_snapshot_diff" ->
      """WITH ev AS (SELECT * FROM events WHERE user_id % 10 = 0),
        |base AS (SELECT user_id, event_id FROM (
        |    SELECT user_id, event_id,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev WHERE ts < TIMESTAMP '2024-01-16') WHERE rn = 1),
        |cur AS (SELECT user_id, event_id, ts, event_type, value FROM (
        |    SELECT user_id, event_id, ts, event_type, value,
        |           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1)
        |SELECT cur.user_id,
        |       CASE WHEN base.user_id IS NULL THEN 'added' ELSE 'changed' END AS change_type,
        |       cur.event_id, cur.ts, cur.event_type, cur.value
        |FROM cur LEFT JOIN base ON cur.user_id = base.user_id
        |WHERE base.user_id IS NULL OR base.event_id <> cur.event_id
        |ORDER BY cur.user_id""".stripMargin,

    "q118_rolling_distinct" ->
      """SELECT event_id, user_id,
        |  CAST(count(DISTINCT event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT) AS k10
        |FROM events ORDER BY event_id""".stripMargin,

    "q119_max_concurrency" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, ts,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM x
        |), sess AS (
        |  SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end
        |  FROM y GROUP BY user_id, session_id
        |), clipped AS (
        |  SELECT CAST(day AS DATE) AS day,
        |         greatest(s_start, CAST(day AS TIMESTAMP)) AS t_lo,
        |         least(s_end, CAST(day AS TIMESTAMP) + INTERVAL 1 DAY) AS t_hi
        |  FROM (SELECT s_start, s_end,
        |          unnest(generate_series(CAST(s_start AS DATE), CAST(s_end AS DATE), INTERVAL 1 DAY)) AS day
        |        FROM sess)
        |), pts AS (
        |  SELECT day, t_lo AS t, 1 AS delta FROM clipped
        |  UNION ALL
        |  SELECT day, t_hi AS t, -1 AS delta FROM clipped
        |), run AS (
        |  SELECT day, sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
        |                               ROWS UNBOUNDED PRECEDING) AS running
        |  FROM pts
        |)
        |SELECT CAST(day AS TIMESTAMP) AS day, CAST(max(running) AS BIGINT) AS max_concurrent
        |FROM run GROUP BY day ORDER BY day""".stripMargin,

    // independent derivation: the classic ordered 3-way edge join (a<b<c),
    // not the degree-oriented wedge plan — agreement is a real cross-check
    "q120_triangles" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |      FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |      FROM e e1 JOIN e e2 ON e1.b = e2.a
        |                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS n_tri
        |FROM (SELECT unnest([x, y, z]) AS node FROM t)
        |GROUP BY node ORDER BY node""".stripMargin,

    "q121_quality_checks" ->
      """WITH n AS (SELECT count(*) AS n FROM orders),
        |checks AS (
        |  SELECT 'complete_o_custkey' AS check_name,
        |         (SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS v
        |  UNION ALL SELECT 'unique_o_orderkey',
        |         (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
        |  UNION ALL SELECT 'domain_o_orderstatus',
        |         (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O', 'F'))
        |  UNION ALL SELECT 'bound_o_totalprice',
        |         (SELECT count(*) FROM orders WHERE NOT (o_totalprice < 300000))
        |  UNION ALL SELECT 'fk_o_custkey',
        |         (SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
        |          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |)
        |SELECT check_name, CAST(v AS BIGINT) AS n_violations, CAST(n AS BIGINT) AS n_rows,
        |       CAST(v * 1000000 // n AS BIGINT) AS violation_ppm, v = 0 AS pass
        |FROM checks CROSS JOIN n ORDER BY check_name""".stripMargin,

    // the grid is rebuilt from the same md5 bucket function, so estimates
    // compare exactly — the sketch itself is engine-portable
    "q122_count_min" -> cmsOracle,

    // stream-merged grid == batch grid exactly (linear sketch), so q123
    // shares q122's oracle verbatim — agreement IS the mergeability proof
    "q123_stream_cms" -> cmsOracle,

    // the bitmap is rebuilt bit-for-bit (md5 positions), so the exact
    // false-positive SET is compared, not a rate bound
    "q124_bloom_prune" ->
      """WITH m AS (SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'),
        |mm AS (SELECT 8 * count(*) AS nbits FROM m),
        |i AS (SELECT unnest([0, 1]) AS i),
        |bits AS (SELECT DISTINCT ('0x' || substr(md5(i::VARCHAR || ':' || key::VARCHAR), 1, 8))::BIGINT % (SELECT nbits FROM mm) AS bit
        |         FROM m CROSS JOIN i),
        |probe AS (SELECT DISTINCT o_custkey AS key FROM orders WHERE o_custkey IS NOT NULL),
        |pv AS (SELECT key,
        |              count(*) FILTER (WHERE bit IN (SELECT bit FROM bits)) = 2 AS might_contain
        |       FROM (SELECT key, ('0x' || substr(md5(i::VARCHAR || ':' || key::VARCHAR), 1, 8))::BIGINT % (SELECT nbits FROM mm) AS bit
        |             FROM probe CROSS JOIN i) GROUP BY key)
        |SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CASE WHEN pv.might_contain THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |       CAST(sum(CASE WHEN m.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_actual,
        |       CAST(sum(CASE WHEN pv.might_contain AND m.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
        |       CAST(sum(CASE WHEN pv.might_contain AND m.key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
        |FROM orders o
        |JOIN pv ON pv.key = o.o_custkey
        |LEFT JOIN m ON m.key = o.o_custkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // quadratic dominance definition — independent of the sweep algorithm
    "q125_skyline" ->
      """WITH p AS (SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
        |                  CAST(p_size AS BIGINT) AS p_size FROM part)
        |SELECT p_partkey, price_cents, p_size FROM p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p o
        |  WHERE o.price_cents <= p.price_cents AND o.p_size <= p.p_size
        |    AND (o.price_cents < p.price_cents OR o.p_size < p.p_size))
        |ORDER BY p_partkey""".stripMargin,

    "q126_twap" ->
      """WITH seg AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
        |         (epoch_us(lead(ts) OVER w) - epoch_us(ts)) // 1000000 AS dur_s
        |  FROM events WHERE event_type = 'purchase'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), agg AS (
        |  SELECT user_id, sum(cents * dur_s) AS sum_weighted, sum(dur_s) AS sum_dur_s
        |  FROM seg WHERE dur_s IS NOT NULL GROUP BY user_id
        |)
        |SELECT user_id, CAST(sum_weighted AS BIGINT) AS sum_weighted,
        |       CAST(sum_dur_s AS BIGINT) AS sum_dur_s,
        |       CAST(sum_weighted // sum_dur_s AS BIGINT) AS twap_cents
        |FROM agg WHERE sum_dur_s > 0 ORDER BY user_id""".stripMargin,

    // full independent re-derivation of the prefix-filter pipeline: same
    // (df, gram) global order, same integer prefix/length/position prunes,
    // same rational-threshold verification — nothing taken on faith
    "q127_prefix_join" ->
      """WITH l AS (SELECT doc_id, list_distinct(CASE WHEN length(lower(text)) <= 8 THEN [lower(text)]
        |             ELSE list_transform(range(length(lower(text)) - 7),
        |                                 i -> substr(lower(text), CAST(i + 1 AS INTEGER), 8)) END) AS gtoks
        |           FROM documents),
        |h AS (SELECT doc_id, list_distinct(list_transform(gtoks,
        |        g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS toks FROM l),
        |toks AS (SELECT doc_id, len(toks) AS sz, unnest(toks) AS tok FROM h),
        |dfs AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
        |ranked AS (
        |  SELECT t.doc_id, t.sz, t.tok,
        |         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn
        |  FROM toks t JOIN dfs d USING (tok)),
        |pref AS (SELECT doc_id, tok, sz, rn FROM ranked WHERE rn <= sz - ((4 * sz + 4) // 5) + 1),
        |prefc AS (SELECT doc_id, tok, sz, rn FROM
        |            (SELECT *, count(*) OVER (PARTITION BY tok) AS bdf FROM pref)
        |          WHERE bdf BETWEEN 2 AND 200),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM prefc a JOIN prefc b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |         WHERE 5 * least(a.sz, b.sz) >= 4 * greatest(a.sz, b.sz)
        |           AND 1 + least(a.sz - a.rn, b.sz - b.rn) >= (4 * (a.sz + b.sz) + 8) // 9),
        |j AS (SELECT id_a, id_b, len(list_intersect(la.gtoks, lb.gtoks)) AS inter,
        |             len(la.gtoks) + len(lb.gtoks) AS tot
        |      FROM cand JOIN l la ON la.doc_id = cand.id_a JOIN l lb ON lb.doc_id = cand.id_b)
        |SELECT d.doc_id, coalesce(dup.is_dup, false) AS is_duplicate
        |FROM documents d
        |LEFT JOIN (SELECT DISTINCT id_b AS doc_id, true AS is_dup FROM j WHERE 9 * inter >= 4 * tot) dup
        |  USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // direct quadratic overlap join — independent of the grid rewrite
    "q128_interval_join" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM x
        |), sess AS (
        |  SELECT user_id, session_id, min(ts) AS s_lo, max(ts) AS s_hi
        |  FROM y GROUP BY 1, 2
        |), busy AS (
        |  SELECT h, h + INTERVAL 1 HOUR - INTERVAL 1 MICROSECOND AS h_hi FROM (
        |    SELECT date_trunc('hour', ts) AS h, count(*) AS c FROM events GROUP BY 1)
        |  ORDER BY c DESC, h LIMIT 50
        |), p AS (
        |  SELECT s.user_id,
        |         epoch_us(least(s.s_hi, b.h_hi)) - epoch_us(greatest(s.s_lo, b.h)) AS ov
        |  FROM sess s JOIN busy b ON s.s_lo <= b.h_hi AND b.h <= s.s_hi
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_windows,
        |       CAST(sum(ov) AS BIGINT) AS sum_overlap_us
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,

    // identical floor-semantics iterations as chained CTEs — exact score
    // equality, no tolerance band
    "q129_pagerank" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |       FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |x0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS x FROM deg),
        |i1 AS (SELECT e.dst AS node, 150000 + (17 * sum(x.x // g.deg)) // 20 AS x
        |       FROM e JOIN x0 x ON x.node = e.src JOIN deg g ON g.src = e.src GROUP BY e.dst),
        |i2 AS (SELECT e.dst AS node, 150000 + (17 * sum(x.x // g.deg)) // 20 AS x
        |       FROM e JOIN i1 x ON x.node = e.src JOIN deg g ON g.src = e.src GROUP BY e.dst),
        |i3 AS (SELECT e.dst AS node, 150000 + (17 * sum(x.x // g.deg)) // 20 AS x
        |       FROM e JOIN i2 x ON x.node = e.src JOIN deg g ON g.src = e.src GROUP BY e.dst)
        |SELECT CAST(node AS BIGINT) AS node, CAST(x AS BIGINT) AS score
        |FROM i3 ORDER BY x DESC, node LIMIT 100""".stripMargin,

    "q130_quota_alloc" ->
      """WITH c AS (SELECT n_name, count(*) AS n_orders
        |           FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
        |                         JOIN nation n ON cu.c_nationkey = n.n_nationkey
        |           GROUP BY 1),
        |t AS (SELECT sum(n_orders) AS total FROM c),
        |b AS (SELECT n_name, n_orders, (100000 * n_orders) // total AS fl,
        |             (100000 * n_orders) % total AS rem
        |      FROM c CROSS JOIN t),
        |s AS (SELECT 100000 - sum(fl) AS short FROM b),
        |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, n_name) AS rk FROM b)
        |SELECT n_name, CAST(n_orders AS BIGINT) AS n_orders,
        |       CAST(fl + CASE WHEN rk <= (SELECT short FROM s) THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM r ORDER BY n_name""".stripMargin,

    "q131_weighted_sample" ->
      """WITH m AS (SELECT max(n_chars)::BIGINT AS m FROM documents)
        |SELECT doc_id, n_chars::BIGINT AS n_chars
        |FROM documents CROSS JOIN m
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT * m < n_chars::BIGINT * 4294967296
        |ORDER BY doc_id""".stripMargin,

    "q132_quota_sample" ->
      """WITH j AS (SELECT o_orderkey, n_name
        |           FROM orders o JOIN customer cu ON o.o_custkey = cu.c_custkey
        |                         JOIN nation n ON cu.c_nationkey = n.n_nationkey),
        |c AS (SELECT n_name, count(*) AS n_orders FROM j GROUP BY 1),
        |t AS (SELECT sum(n_orders) AS total, sum(n_orders) // 10 AS budget FROM c),
        |b AS (SELECT n_name, n_orders, (budget * n_orders) // total AS fl,
        |             (budget * n_orders) % total AS rem
        |      FROM c CROSS JOIN t),
        |s AS (SELECT (SELECT budget FROM t) - sum(fl) AS short FROM b),
        |r AS (SELECT n_name,
        |             fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, n_name)
        |                            <= (SELECT short FROM s) THEN 1 ELSE 0 END AS alloc
        |      FROM b),
        |rk AS (SELECT o_orderkey, n_name,
        |              row_number() OVER (PARTITION BY n_name
        |                                 ORDER BY md5(o_orderkey::VARCHAR), o_orderkey) AS rk
        |       FROM j)
        |SELECT rk.o_orderkey, rk.n_name
        |FROM rk JOIN r USING (n_name) WHERE rk.rk <= r.alloc
        |ORDER BY rk.o_orderkey""".stripMargin,

    // identical semantics to q04 by construction (the analyzer rewrite
    // builds the same plan the q04 library call builds) — oracle shared
    "q133_asof_sql" -> asofOracle,

    // the md5 bucket re-derivation is the same formula as q52's oracle;
    // the frame contents are compared row-for-row, so the ML loop's split
    // is now a green oracle row (fit/MSE remain spec-bounded by design)
    "q143_ml_frames" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN ('0x' || substr(md5(l_orderkey::VARCHAR || '/' || l_linenumber::VARCHAR), 1, 8))::BIGINT % 100 < 80
        |       THEN 'train' ELSE 'test' END AS split,
        |  l_quantity, l_discount, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey % 10 = 0
        |  AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
        |  AND l_extendedprice IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // one step replayed from the dumped xᵏ⁻¹: matching the dumped xᵏ proves
    // step-algebra agreement; the convergence verdict is re-derived (did
    // step(xᵏ⁻¹) move anything?) so a wrong flag also mismatches
    // (damping 1/2, scale 1e6: teleport term = 1000000 - 500000)
    "q144_pagerank_fixedpoint" ->
      """WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |           WHERE l_orderkey % 4 = 0),
        |e0 AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |       FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |xp AS (SELECT node, x FROM read_parquet('{AUX}/q144_prev/*.parquet')),
        |nxt AS (SELECT e.dst AS node, 500000 + (1 * sum(p.x // g.deg)) // 2 AS x
        |        FROM e JOIN xp p ON p.node = e.src JOIN deg g ON g.src = e.src GROUP BY e.dst),
        |cv AS (SELECT count(*) = 0 AS converged
        |       FROM nxt n JOIN xp p ON n.node = p.node WHERE n.x != p.x)
        |SELECT CAST(n.node AS BIGINT) AS node, CAST(n.x AS BIGINT) AS score, cv.converged
        |FROM nxt n CROSS JOIN cv ORDER BY n.x DESC, n.node LIMIT 100""".stripMargin,

    // q127's oracle with the df-floor mirrored: prefix rows whose token df
    // exceeds 50 are excluded from candidate generation on BOTH engines
    "q147_prefix_join_floored" ->
      """WITH l AS (SELECT doc_id, list_distinct(CASE WHEN length(lower(text)) <= 8 THEN [lower(text)]
        |             ELSE list_transform(range(length(lower(text)) - 7),
        |                                 i -> substr(lower(text), CAST(i + 1 AS INTEGER), 8)) END) AS gtoks
        |           FROM documents),
        |h AS (SELECT doc_id, list_distinct(list_transform(gtoks,
        |        g -> ('0x' || substr(md5(g), 1, 15))::BIGINT)) AS toks FROM l),
        |toks AS (SELECT doc_id, len(toks) AS sz, unnest(toks) AS tok FROM h),
        |dfs AS (SELECT tok, count(*) AS df FROM toks GROUP BY 1),
        |ranked AS (
        |  SELECT t.doc_id, t.sz, t.tok,
        |         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn
        |  FROM toks t JOIN dfs d USING (tok)),
        |pref AS (SELECT doc_id, tok, sz, rn FROM ranked WHERE rn <= sz - ((4 * sz + 4) // 5) + 1),
        |prefc AS (SELECT doc_id, tok, sz, rn FROM
        |            (SELECT *, count(*) OVER (PARTITION BY tok) AS bdf FROM pref)
        |          WHERE bdf BETWEEN 2 AND 200),
        |preff AS (SELECT p.* FROM prefc p JOIN dfs d USING (tok) WHERE d.df <= 50),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM preff a JOIN preff b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |         WHERE 5 * least(a.sz, b.sz) >= 4 * greatest(a.sz, b.sz)
        |           AND 1 + least(a.sz - a.rn, b.sz - b.rn) >= (4 * (a.sz + b.sz) + 8) // 9),
        |j AS (SELECT id_a, id_b, len(list_intersect(la.gtoks, lb.gtoks)) AS inter,
        |             len(la.gtoks) + len(lb.gtoks) AS tot
        |      FROM cand JOIN l la ON la.doc_id = cand.id_a JOIN l lb ON lb.doc_id = cand.id_b)
        |SELECT d.doc_id, coalesce(dup.is_dup, false) AS is_duplicate
        |FROM documents d
        |LEFT JOIN (SELECT DISTINCT id_b AS doc_id, true AS is_dup FROM j WHERE 9 * inter >= 4 * tot) dup
        |  USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // every decoded pixel re-derived arithmetically from the closed-form
    // pattern — bit-verifies the javax.imageio decode without a codec
    "q145_image_decode" ->
      """WITH a AS (SELECT c_custkey AS asset_id,
        |                  4 + c_custkey % 13 AS w, 4 + c_custkey % 11 AS h
        |           FROM customer WHERE c_custkey % 3 = 0),
        |px AS (SELECT asset_id, w, h, xs.x AS x, ys.y AS y
        |       FROM a CROSS JOIN range(16) xs(x) CROSS JOIN range(14) ys(y)
        |       WHERE xs.x < w AND ys.y < h)
        |SELECT asset_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |       CAST(sum((asset_id*31 + x*7 + y*13) % 256) AS BIGINT) AS sum_gray
        |FROM px GROUP BY asset_id, w, h ORDER BY asset_id""".stripMargin,

    // decode→nearest-neighbor→re-encode→decode replayed in integer algebra:
    // resized pixel (x,y) samples source (x*w//8, y*h//6)
    "q146_image_resize" ->
      """WITH a AS (SELECT c_custkey AS asset_id,
        |                  4 + c_custkey % 13 AS w, 4 + c_custkey % 11 AS h
        |           FROM customer WHERE c_custkey % 3 = 0),
        |px AS (SELECT asset_id, w, h, xs.x AS x, ys.y AS y
        |       FROM a CROSS JOIN range(8) xs(x) CROSS JOIN range(6) ys(y))
        |SELECT asset_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        |       CAST(sum((asset_id*31 + ((x*w)//8)*7 + ((y*h)//6)*13) % 256) AS BIGINT) AS sum_gray
        |FROM px GROUP BY asset_id ORDER BY asset_id""".stripMargin,

    // every decoded PCM16 sample re-derived from the closed-form pattern —
    // bit-verifies the javax.sound.sampled decode + exact window energies
    "q154_audio_decode" ->
      """WITH a AS (SELECT c_custkey AS asset_id, 800 + (c_custkey % 7) * 400 AS n
        |           FROM customer WHERE c_custkey % 3 = 1),
        |w AS (SELECT asset_id, n,
        |             unnest(generate_series(0, (n + 799) // 800 - 1)) AS seg_idx
        |      FROM a),
        |px AS (SELECT asset_id, seg_idx,
        |              unnest(generate_series(seg_idx * 800,
        |                                     least(n, seg_idx * 800 + 800) - 1)) AS i
        |       FROM w)
        |SELECT asset_id, CAST(seg_idx AS BIGINT) AS seg_idx,
        |  CAST(seg_idx * 100 AS BIGINT) AS seg_start_ms,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(((asset_id*31 + i*7) % 2003 - 1001)
        |         * ((asset_id*31 + i*7) % 2003 - 1001)) AS BIGINT) AS sum_sq
        |FROM px GROUP BY asset_id, seg_idx ORDER BY asset_id, seg_idx""".stripMargin,

    // q154's per-window arithmetic + the integer activity verdict
    "q159_audio_activity" ->
      """WITH a AS (SELECT c_custkey AS asset_id, 800 + (c_custkey % 7) * 400 AS n
        |           FROM customer WHERE c_custkey % 3 = 1),
        |w AS (SELECT asset_id, n,
        |             unnest(generate_series(0, (n + 799) // 800 - 1)) AS seg_idx
        |      FROM a),
        |px AS (SELECT asset_id, seg_idx,
        |              unnest(generate_series(seg_idx * 800,
        |                                     least(n, seg_idx * 800 + 800) - 1)) AS i
        |       FROM w),
        |seg AS (SELECT asset_id, seg_idx, count(*) AS n_samples,
        |          sum(((asset_id*31 + i*7) % 2003 - 1001)
        |            * ((asset_id*31 + i*7) % 2003 - 1001)) AS sum_sq
        |        FROM px GROUP BY asset_id, seg_idx),
        |v AS (SELECT asset_id, n_samples,
        |        CASE WHEN sum_sq >= 334000 * n_samples THEN 1 ELSE 0 END AS active
        |      FROM seg)
        |SELECT asset_id, CAST(count(*) AS BIGINT) AS n_windows,
        |  CAST(sum(active) AS BIGINT) AS n_active,
        |  CAST(sum(CASE WHEN active = 1 THEN n_samples ELSE 0 END) AS BIGINT) AS active_samples
        |FROM v GROUP BY asset_id ORDER BY asset_id""".stripMargin,

    // every sampled frame's decoded pixels re-derived from the frame-term
    // pattern — bit-verifies the AVI demux + per-frame javax.imageio parse
    "q156_video_frames" ->
      """WITH a AS (SELECT c_custkey AS asset_id, 4 + c_custkey % 13 AS w,
        |                  4 + c_custkey % 11 AS h, 2 + c_custkey % 4 AS nf
        |           FROM customer WHERE c_custkey % 3 = 2),
        |f AS (SELECT asset_id, w, h,
        |             unnest(generate_series(0, nf - 1, 2)) AS frame_idx
        |      FROM a),
        |px AS (SELECT asset_id, w, h, frame_idx, xs.x AS x, ys.y AS y
        |       FROM f CROSS JOIN range(16) xs(x) CROSS JOIN range(14) ys(y)
        |       WHERE xs.x < w AND ys.y < h)
        |SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(frame_idx * 250 AS BIGINT) AS ts_ms,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(sum((asset_id*31 + frame_idx*17 + x*7 + y*13) % 256) AS BIGINT) AS sum_gray
        |FROM px GROUP BY asset_id, w, h, frame_idx
        |ORDER BY asset_id, frame_idx""".stripMargin
  )
}
