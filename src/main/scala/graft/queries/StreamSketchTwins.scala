package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{SketchFunctions, TextFunctions}
import graft.streaming.{VersionedStreamDedup, VersionedStreamJoin}

/** Mergeable-sketch and corpus-statistic twins: KMV / CMS / bloom /
  * quantile sketches, domain-mix quota tables, LM and source-quality
  * filters, and the streamed tf-idf model — rows whose state is a
  * bounded sketch or a ≤vocab-sized statistic, never the corpus. */
private[graft] object StreamSketchTwins {

  import StreamingHarness._

  def entries: Seq[Entry] = Seq(

    // STREAMING CARDINALITY MONITORING — the KMV mergeable sketch
    // ([[graft.functions.KmvSketchAgg]]) as a streaming AGGREGATION:
    // the engine itself persists the aggregate buffer (the k=64
    // smallest distinct hashes per event_type — 512 bytes, never the
    // values) across microbatches, so per-key distinct-user estimates
    // are maintained incrementally over the replayed ingest with no
    // custom state code at all. Because the KMV estimate is a pure
    // function of the hash set, the converged streaming answer equals
    // the batch sketch bit-for-bit AND the DuckDB oracle re-derives
    // the same number — a determinism HLL++-based monitoring cannot
    // offer. At 100 TB this is the feed-health dashboard query: state
    // is O(groups · k) regardless of traffic.
    Entry("s38_stream_kmv_users",
      (spark, dir) => {
        import graft.functions.{KmvSketch, TextFunctions}
        runFileStream(spark, dir, "s38_stream_kmv_users", Events, mode = "complete",
            // coarsened trigger: complete-mode sketch agg, batching-independent
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          src()
            .select(col("event_type"),
              TextFunctions.fingerprint64(col("user_id").cast("string"))
                .as("h"))
            .groupBy(col("event_type"))
            .agg(KmvSketch.kmvSketch(col("h")).as("sk"))
            .select(col("event_type"),
              KmvSketch.estimate(col("sk")).as("n_kmv"))
        }(_.orderBy(col("event_type")))
      },
      Some(s"""WITH th AS (SELECT event_type,
        |  ${TextFunctions.fp64Sql("CAST(user_id AS VARCHAR)")} AS h
        |  FROM events),
        |kmv AS ${graft.functions.KmvSketch.oracleEstimateSql(
               "th", "event_type", "h")}
        |SELECT event_type, n_kmv FROM kmv
        |ORDER BY event_type""".stripMargin)),

    // CONTINUOUS DECONTAMINATION MONITORING — t_kmv_contamination's
    // streaming twin: as document chunks land, each split's KMV k-min
    // hash SET is maintained as engine-managed streaming-agg state
    // (2 KB per split, never the shingles), and the converged sketches
    // feed the same union/Jaccard/intersection estimator. Because the
    // sketch is a pure function of the hash set, the streamed
    // estimates must equal the batch row's kmv columns BIT-FOR-BIT —
    // the oracle is the same re-derivation. At 100 TB this runs
    // against the live ingest: overlap between the growing train feed
    // and a frozen eval set, continuously, from 4 KB of state.
    Entry("s39_stream_kmv_contamination",
      (spark, dir) => {
        import graft.functions.KmvSketch
        val k = 256
        runFileStream(spark, dir, "s39_stream_kmv_contamination", DocText,
            mode = "complete",
            // coarsened trigger: monoid streaming-agg state, batching-independent convergence
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          src()
            .withColumn("split", TextFunctions.splitAssign(col("doc_id")))
            .filter(col("split") =!= "val")
            .select(col("split"), TextFunctions.tokens(col("text")).as("toks"))
            .select(col("split"), explode(array_distinct(
              TextFunctions.shingles3FromTokens(col("toks")))).as("sh"))
            .select(col("split"),
              TextFunctions.fingerprint64(col("sh")).as("fp"))
            .groupBy(col("split"))
            .agg(KmvSketch.kmvHashes(col("fp"), k).as("hs"))
        } { conv =>
          val tr = conv.filter(col("split") === "train")
            .select(col("hs").as("train_hs"))
          val te = conv.filter(col("split") === "test")
            .select(col("hs").as("test_hs"))
          tr.crossJoin(te)
            .withColumn("u",
              KmvSketch.unionMin(col("train_hs"), col("test_hs"), k))
            .select(
              KmvSketch.estimateFromHashes(
                sort_array(col("train_hs")), k).as("n_train_kmv"),
              KmvSketch.estimateFromHashes(
                sort_array(col("test_hs")), k).as("n_test_kmv"),
              KmvSketch.estimateFromHashes(col("u"), k).as("n_union_kmv"),
              KmvSketch.coincidences(col("u"), col("train_hs"),
                col("test_hs")).as("c"),
              size(col("u")).as("nu"))
            .select(col("n_train_kmv"), col("n_test_kmv"),
              col("n_union_kmv"), col("c"),
              when(col("nu") === 0, lit(0.0))
                .otherwise(round(col("c") / col("nu"), 6))
                .as("jaccard_kmv"),
              when(col("nu") === 0, lit(0L)).otherwise(
                floor(col("c") * col("n_union_kmv") / col("nu"))
                  .cast("long")).as("n_inter_kmv"))
        }
      },
      Some(s"""WITH b AS (SELECT doc_id, text,
        |  ${TextFunctions.splitCaseSql(
             TextFunctions.splitBucketSql("doc_id"))} AS split
        |  FROM documents),
        |sh AS (SELECT DISTINCT split, ${TextFunctions.fp64Sql("sh")} AS fp
        |  FROM (SELECT split,
        |    unnest(list_distinct(${DedupOps.shinglesListSql})) AS sh
        |    FROM b WHERE split <> 'val')),
        |tr AS (SELECT fp FROM sh WHERE split = 'train'),
        |te AS (SELECT fp FROM sh WHERE split = 'test'),
        |trk AS (SELECT fp, row_number() OVER (ORDER BY fp) AS rn FROM tr),
        |tek AS (SELECT fp, row_number() OVER (ORDER BY fp) AS rn FROM te),
        |un AS (SELECT fp, row_number() OVER (ORDER BY fp) AS rn
        |  FROM (SELECT fp FROM tr UNION SELECT fp FROM te)),
        |uk AS (SELECT fp FROM un WHERE rn <= 256),
        |est AS (SELECT
        |  (SELECT CASE WHEN max(rn) < 256 THEN max(rn)
        |     ELSE CAST(floor(255.0 * 1152921504606846976.0 /
        |       CAST(GREATEST(max(CASE WHEN rn = 256 THEN fp END), 1) AS DOUBLE)) AS BIGINT) END
        |   FROM trk) AS n_train_kmv,
        |  (SELECT CASE WHEN max(rn) < 256 THEN max(rn)
        |     ELSE CAST(floor(255.0 * 1152921504606846976.0 /
        |       CAST(GREATEST(max(CASE WHEN rn = 256 THEN fp END), 1) AS DOUBLE)) AS BIGINT) END
        |   FROM tek) AS n_test_kmv,
        |  (SELECT CASE WHEN max(rn) < 256 THEN max(rn)
        |     ELSE CAST(floor(255.0 * 1152921504606846976.0 /
        |       CAST(GREATEST(max(CASE WHEN rn = 256 THEN fp END), 1) AS DOUBLE)) AS BIGINT) END
        |   FROM un) AS n_union_kmv,
        |  (SELECT count(*) FROM uk
        |   WHERE fp IN (SELECT fp FROM tr) AND fp IN (SELECT fp FROM te))
        |    AS c,
        |  (SELECT count(*) FROM uk) AS nu)
        |SELECT n_train_kmv, n_test_kmv, n_union_kmv, c,
        |  CASE WHEN nu = 0 THEN 0.0 ELSE round(c / nu, 6) END AS jaccard_kmv,
        |  CASE WHEN nu = 0 THEN 0 ELSE
        |    CAST(floor(c * n_union_kmv / nu) AS BIGINT) END AS n_inter_kmv
        |FROM est""".stripMargin)),

    // STREAMING FREQUENCY MONITORING — t_cms_heavy_hitters' streaming
    // twin: the d×w count-min counter matrix maintained as
    // engine-managed streaming-aggregation state over the replayed
    // ingest. Counter matrices merge by ADDITION, which is precisely
    // what streaming count state does across microbatches — so the
    // sketch needs no custom state code and its converged value is
    // BATCH-IDENTICAL (counts are exact integers; the estimate is a
    // pure function of the matrix). State is 4,096 counters regardless
    // of traffic or vocabulary — the token-frequency dashboard a
    // 100 TB feed runs. The probe set (exact top-20) joins in from the
    // static table at convergence; same oracle as the batch row.
    Entry("s40_stream_cms_heavy_hitters",
      (spark, dir) => {
        import graft.functions.SketchFunctions
        runFileStream(spark, dir, "s40_stream_cms_heavy_hitters", DocText,
            mode = "complete",
            // coarsened trigger: monoid streaming-agg state, batching-independent convergence
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          src()
            .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
            .select(explode(SketchFunctions.cmsCoords(
              TextFunctions.tokenHash(col("tok")))).as("rb"))
            .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
            .agg(count(lit(1)).as("cnt"))
        } { cms =>
          val top = Registry.table(spark, dir, "documents")
            .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
            .groupBy(col("tok"))
            .agg(count(lit(1)).as("n_exact"))
            .orderBy(col("n_exact").desc, col("tok"))
            .limit(20)
          top
            .select(col("tok"), col("n_exact"),
              explode(SketchFunctions.cmsCoords(
                TextFunctions.tokenHash(col("tok")))).as("rb"))
            .select(col("tok"), col("n_exact"),
              col("rb.r").as("r"), col("rb.b").as("b"))
            .join(cms, Seq("r", "b"))
            .groupBy(col("tok"), col("n_exact"))
            .agg(min(col("cnt")).as("n_cms"))
            .withColumn("overestimate", col("n_cms") - col("n_exact"))
            .orderBy(col("n_exact").desc, col("tok"))
        }
      },
      Some {
        import graft.functions.SketchFunctions.{P, cmsCoeffSql, cmsWidth}
        s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |h AS (SELECT tok,
        |  CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS th
        |  FROM t),
        |cms AS (SELECT c.r, (c.a * th + c.b) % $P % $cmsWidth AS b,
        |    count(*) AS cnt
        |  FROM h CROSS JOIN $cmsCoeffSql AS c(r, a, b)
        |  GROUP BY 1, 2),
        |top AS (SELECT tok, count(*) AS n_exact FROM t
        |  GROUP BY tok ORDER BY n_exact DESC, tok LIMIT 20),
        |probe AS (SELECT top.tok, top.n_exact, c.r,
        |    (c.a * CAST(concat('0x', substr(md5(top.tok), 1, 8)) AS BIGINT)
        |      + c.b) % $P % $cmsWidth AS b
        |  FROM top CROSS JOIN $cmsCoeffSql AS c(r, a, b))
        |SELECT probe.tok, probe.n_exact, min(cms.cnt) AS n_cms,
        |  min(cms.cnt) - probe.n_exact AS overestimate
        |FROM probe JOIN cms ON cms.r = probe.r AND cms.b = probe.b
        |GROUP BY probe.tok, probe.n_exact
        |ORDER BY probe.n_exact DESC, probe.tok""".stripMargin
      }),

    // STREAMING BLOOM MEMBERSHIP — t_bloom_contamination's streaming
    // twin, closing the batch+streaming pairing for every sketch
    // family (KMV: s38/s39, CMS: s40, bloom: here): the TRAIN side's
    // set-bit set grows as ingest chunks land — streaming distinct
    // state keyed by bit position, ≤ m = 65,536 slim rows no matter
    // the corpus — and at convergence the static test split screens
    // against it. Set bits only ever turn ON (bloom filters are
    // monotone), so arrival order is irrelevant and the converged
    // screen equals the batch row exactly — same oracle. At 100 TB
    // this is the incremental dedup pre-filter: the filter keeps
    // absorbing the feed without rebuilds.
    Entry("s41_stream_bloom_contamination",
      (spark, dir) => {
        import graft.functions.SketchFunctions
        def shingleHashes(df: DataFrame): DataFrame = df
          .withColumn("split", TextFunctions.splitAssign(col("doc_id")))
          .select(col("doc_id"), col("split"),
            TextFunctions.tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("split"), explode(array_distinct(
            TextFunctions.shingles3FromTokens(col("toks")))).as("sh"))
          .select(col("doc_id"), col("split"),
            TextFunctions.tokenHash(col("sh")).as("th"))
        runFileStream(spark, dir, "s41_stream_bloom_contamination", DocText,
            mode = "complete",
            // coarsened trigger: monoid streaming-agg state, batching-independent convergence
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          // train bits as streaming DISTINCT state (monotone: set
          // bits only turn on) — groupBy(pos).count in complete mode
          shingleHashes(src())
            .filter(col("split") === "train")
            .select(explode(SketchFunctions.bloomPositions(col("th")))
              .as("pos"))
            .groupBy(col("pos")).agg(count(lit(1)).as("n"))
        } { log =>
          val bits = log.select(col("pos")).withColumn("set", lit(1))
          val sh = shingleHashes(
            Registry.table(spark, dir, "documents")
              .select(col("doc_id"), col("text")))
          val test = sh.filter(col("split") === "test")
          val trainTh = sh.filter(col("split") === "train")
            .select(col("th")).distinct()
          val bloomHits = test
            .select(col("doc_id"), col("th"),
              explode(SketchFunctions.bloomPositions(col("th"))).as("pos"))
            .join(broadcast(bits), Seq("pos"), "left")
            .groupBy(col("doc_id"), col("th"))
            .agg((count(col("set")) === SketchFunctions.bloomK)
              .cast("int").as("hit"))
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_shingles"),
              sum(col("hit")).as("n_bloom_hits"))
          val exactHits = test
            .join(trainTh.withColumn("intrain", lit(1)), Seq("th"), "left")
            .groupBy(col("doc_id"))
            .agg(count(col("intrain")).as("n_contaminated"))
          bloomHits.join(exactHits, Seq("doc_id"))
            .select(col("doc_id"), col("n_shingles"),
              col("n_contaminated"), col("n_bloom_hits"),
              (col("n_bloom_hits") - col("n_contaminated"))
                .as("bloom_false_pos"))
            .orderBy(col("doc_id"))
        }
      },
      Some {
        import graft.functions.SketchFunctions.{P, bloomCoeffSql, bloomK, bloomM}
        s"""WITH b AS (SELECT doc_id, text,
        |  ${TextFunctions.splitCaseSql(
             TextFunctions.splitBucketSql("doc_id"))} AS split
        |  FROM documents),
        |sh AS (SELECT doc_id, split,
        |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS th
        |  FROM (SELECT doc_id, split,
        |    unnest(list_distinct(${DedupOps.shinglesListSql})) AS sh
        |    FROM b WHERE split <> 'val')),
        |tr AS (SELECT DISTINCT th FROM sh WHERE split = 'train'),
        |bits AS (SELECT DISTINCT (c.a * th + c.b) % $P % $bloomM AS pos
        |  FROM tr CROSS JOIN $bloomCoeffSql AS c(r, a, b)),
        |te AS (SELECT doc_id, th FROM sh WHERE split = 'test'),
        |hits AS (SELECT doc_id, th,
        |    CASE WHEN count(bits.pos) = $bloomK THEN 1 ELSE 0 END AS hit
        |  FROM (SELECT te.doc_id, te.th,
        |          (c.a * te.th + c.b) % $P % $bloomM AS pos
        |        FROM te CROSS JOIN $bloomCoeffSql AS c(r, a, b)) p
        |  LEFT JOIN bits ON bits.pos = p.pos
        |  GROUP BY doc_id, th),
        |bl AS (SELECT doc_id, count(*) AS n_shingles,
        |    CAST(sum(hit) AS BIGINT) AS n_bloom_hits
        |  FROM hits GROUP BY doc_id),
        |ex AS (SELECT te.doc_id, count(tr.th) AS n_contaminated
        |  FROM te LEFT JOIN tr ON tr.th = te.th GROUP BY te.doc_id)
        |SELECT bl.doc_id, n_shingles, n_contaminated, n_bloom_hits,
        |  n_bloom_hits - n_contaminated AS bloom_false_pos
        |FROM bl JOIN ex ON ex.doc_id = bl.doc_id
        |ORDER BY bl.doc_id""".stripMargin
      }),

    // STREAMING QUANTILE MONITORING — q_quantile_sketch's streaming
    // twin, closing the sketch family's streaming symmetry (KMV
    // s38/s39, CMS s40, Bloom s41, priority sample here): the per-type
    // bottom-k-by-hash value sample ([[graft.functions
    // .PrioritySampleAgg]]) is engine-managed streaming-agg state
    // (≤ k (hash, value) pairs per event type, never the stream), so
    // p50/p90/p99 latency-style monitoring is maintained incrementally
    // with no custom state code. Because the sample is a pure function
    // of the row SET, the converged streamed quantiles equal the batch
    // row's bit-for-bit — arrival order, microbatch boundaries, and
    // merge trees all cancel — and the DuckDB oracle re-derives them.
    // At 100 TB this is the live p99 dashboard from 2 KB per group.
    Entry("s43_stream_quantile_sketch",
      (spark, dir) => {
        import graft.functions.{PrioritySample, TextFunctions}
        runFileStream(spark, dir, "s43_stream_quantile_sketch", Events,
            mode = "complete") { src =>
          src()
            .select(col("event_type"), col("value"),
              TextFunctions.fingerprint64(col("event_id").cast("string"))
                .as("h"))
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              PrioritySample.sample(col("h"), col("value")).as("xs"))
            .withColumn("sxs", array_sort(col("xs")))
            .select(col("event_type"), col("n_events"),
              size(col("sxs")).cast("long").as("n_sample"),
              PrioritySample.discQuantile(col("sxs"), 0.5).as("p50_sketch"),
              PrioritySample.discQuantile(col("sxs"), 0.9).as("p90_sketch"),
              PrioritySample.discQuantile(col("sxs"), 0.99).as("p99_sketch"))
        }(_.orderBy(col("event_type")))
      },
      Some {
        import graft.functions.PrioritySample
        val fp = TextFunctions.fp64Sql("CAST(event_id AS VARCHAR)")
        s"""WITH th AS (SELECT event_type, value, $fp AS h FROM events),
        |s AS ${PrioritySample.oracleSampleSql("th", "event_type", "h", "value")},
        |ex AS (SELECT event_type, count(*) AS n_events FROM events
        |  GROUP BY event_type)
        |SELECT ex.event_type, ex.n_events,
        |  CAST(len(s.xs) AS BIGINT) AS n_sample,
        |  ${PrioritySample.discQuantileSql("s.xs", 0.5)} AS p50_sketch,
        |  ${PrioritySample.discQuantileSql("s.xs", 0.9)} AS p90_sketch,
        |  ${PrioritySample.discQuantileSql("s.xs", 0.99)} AS p99_sketch
        |FROM s JOIN ex USING (event_type)
        |ORDER BY event_type""".stripMargin
      }),

    // STREAMING DOMAIN MIX — the data-mixture decision maintained
    // incrementally: per-language corpus counts are a pure sum, so
    // Spark's NATIVE streaming aggregation holds them (the s47
    // zero-custom-state argument, applied to the mixing statistic —
    // state is ≤5 rows regardless of corpus size), and the CONVERGED
    // counts drive the exact batch quota chain (capacity → per-domain
    // md5 threshold → selection), hash-matching the t_domain_mix
    // oracle. At 100 TB this is how a live ingest keeps its mixture
    // current: counts update as documents land, re-deriving quotas is
    // arithmetic on a 5-row table, and the selection predicate stays
    // a deterministic per-doc hash test — no resampling pass over
    // what's already ingested.
    Entry("s54_stream_domain_mix",
      (spark, dir) => runLangCountStream(spark, dir, "s54_stream_domain_mix")(
        TextOps.domainMixFrom(spark, dir, _)),
      Some(TextOps.domainMixOracleSql)),

    // STREAMING LM TRAINING → QUALITY FILTER — the perplexity filter's
    // MODEL maintained incrementally: unigram counts are a pure sum,
    // so native streaming aggregation holds the (tok, cnt) vocabulary
    // as documents arrive (state is vocabulary-sized — bounded by the
    // language, not the corpus; the corpus total derives from the
    // model itself, Σcnt), and the CONVERGED model drives the exact
    // batch banding tail, hash-matching the t_perplexity_filter
    // oracle. The fourth trained statistic with a streamed twin (IVF
    // s25/s44, PQ s46, PCA s47, mixture s54 — now the CCNet filter
    // LM): at 100 TB the quality model retrains continuously as the
    // crawl lands, and re-banding the corpus is a re-run of the
    // scoring pass against a model that is already current.
    Entry("s55_stream_lm_filter",
      (spark, dir) =>
        runFileStream(spark, dir, "s55_stream_lm_filter", DocText,
            // coarsened trigger: monoid streaming-agg state, batching-independent convergence
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          src()
            .select(explode(
              graft.functions.TextFunctions.tokens(col("text")))
              .as("tok"))
            .groupBy(col("tok"))
            .agg(count(lit(1)).as("cnt"))
        } { raw =>
          // converged model = each token's LAST emitted running count
          TextOps.perplexityBandsFrom(spark, dir,
            latestBidPerKey(raw, "tok").select(col("tok"), col("cnt"))
              .localCheckpoint())
        },
      Some(TextOps.perplexityBandsOracleSql)),

    // STREAMING SOURCE REPUTATION — the coarse curation statistic
    // maintained incrementally: per-source (n_docs, q_sum, sum_ids)
    // is a pure sum over scan-side fixed-point doc qualities, so
    // Spark's NATIVE streaming aggregation holds it (the s54/s55
    // shape — state is one row per source, ~20 rows regardless of
    // corpus size), and the CONVERGED stats drive the exact batch
    // keep rule (corpus-total broadcast + integer cross-multiply),
    // hash-matching the t_source_filter oracle. At 100 TB this is how
    // a live crawl keeps source reputations current: qualities
    // quantize where the documents land, ~20 rows of state update per
    // microbatch, and re-deciding which sources pass the bar is
    // arithmetic on that table — never a re-scan of what's ingested.
    Entry("s56_stream_source_filter",
      (spark, dir) =>
        runFileStream(spark, dir, "s56_stream_source_filter", DocSource,
            // coarsened trigger: monoid streaming-agg state, batching-independent convergence
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          TextOps.sourceQmicro(src())
            .groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("qmicro")).as("q_sum"),
              sum(col("doc_id")).as("sum_ids"))
        } { raw =>
          // converged stats = each source's LAST emitted running sums
          TextOps.sourceFilterFrom(latestBidPerKey(raw, "source")
            .select(col("source"), col("n_docs"), col("q_sum"),
              col("sum_ids"))
            .localCheckpoint())
        },
      Some(TextOps.sourceFilterOracleSql)),

    // STREAMING TEMPERATURE MIXING — s54's incremental-mixture proof
    // for the α = 0.5 rebalancing rule: the SAME ≤5-row per-language
    // count state (native streaming aggregation, pure sums), with the
    // converged counts driving the temperature quota chain instead —
    // w = floor(sqrt(count)) stays integer-exact on the streamed
    // counts, so the whole capacity → threshold → md5-selection tail
    // hash-matches the t_domain_mix_temp oracle. Both mixing rules a
    // pretraining pipeline runs (proportional and temperature-scaled)
    // now re-derive live from one maintained count table; switching α
    // at 100 TB is arithmetic on 5 rows, not a corpus pass.
    Entry("s59_stream_temp_mix",
      (spark, dir) => runLangCountStream(spark, dir, "s59_stream_temp_mix")(
        TextOps.tempMixFrom(spark, dir, _)),
      Some(TextOps.tempMixOracleSql)),

    // STREAMING DF MODEL → TF-IDF KEYWORDS — the retrieval-side
    // trained statistic maintained incrementally: document frequency
    // is a pure sum over per-doc DISTINCT tokens, and distinctness is
    // established SCAN-LOCALLY in the microbatch (per-doc
    // array_distinct — each document arrives exactly once, so its df
    // contribution is complete at ingest; no stateful dedup, no
    // second aggregation), with the corpus size riding INSIDE the
    // model as a per-doc sentinel token's count (multiple streaming
    // aggregations are unsupported — the s55 Σcnt trick applied to
    // document counting). The converged (tok, df) state drives the
    // exact batch BM25-ish scoring + per-doc top-5 tail,
    // hash-matching the t_tfidf_top oracle. At 100 TB this is a live
    // keyword/retrieval index's idf side: the model updates as
    // documents land, and re-scoring is a re-run of the tf pass
    // against a model that is already current.
    Entry("s60_stream_tfidf_model",
      (spark, dir) =>
        runFileStream(spark, dir, "s60_stream_tfidf_model", DocText,
            // coarsened trigger: monoid streaming-agg state, batching-independent convergence
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          TextOps.tfidfDocTokens(src())
            .groupBy(col("tok"))
            .agg(count(lit(1)).as("df"))
        } { raw =>
          // converged model = each token's LAST emitted running df
          TextOps.tfidfTopFrom(spark, dir,
            latestBidPerKey(raw, "tok").select(col("tok"), col("df"))
              .localCheckpoint())
        },
      Some(TextOps.tfidfTopOracleSql))
  )

  /** The streamed per-language document count shared by s54 and s59:
    * native streaming aggregation holds the ≤5-row count table, and
    * `serve` runs the row's batch quota chain over the CONVERGED
    * counts (each language's last emitted running count). */
  private def runLangCountStream(spark: SparkSession, dir: String,
      name: String)(serve: DataFrame => DataFrame): DataFrame =
    runFileStream(spark, dir, name, DocLang,
        // coarsened trigger: monoid streaming-agg state, batching-independent convergence
        filesPerTrigger = coarseFilesPerTrigger) { src =>
      src().groupBy(col("lang")).agg(count(lit(1)).as("c"))
    } { raw =>
      serve(latestBidPerKey(raw, "lang").select(col("lang"), col("c"))
        .localCheckpoint())
    }
}
