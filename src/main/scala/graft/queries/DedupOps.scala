package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{SketchFunctions, TextFunctions}

/** Document deduplication at training-data-pipeline scale:
  *
  *  - exact (hash groupBy — one shuffle on the fingerprint),
  *  - n-gram Jaccard via an exploded *equi-join on shingles* with a
  *    document-frequency cutoff (never an O(n²) cross product: pair
  *    candidates are generated only where a discriminative shingle is
  *    shared, which is the shape that survives 100 TB),
  *  - MinHash signatures + LSH banding (candidates = equi-join on
  *    (band index, band value) buckets),
  *  - SimHash 32-bit signatures.
  *
  * Every step is integer/md5 math mirrored exactly by the DuckDB
  * oracle SQL (generated from the same Scala constants).
  */
object DedupOps {

  /** Shared with StreamingOps: the incremental streaming exact-dedup
    * (s19) must converge to exactly this batch answer. */
  private[queries] val exactDedupOracleSql: String =
    """SELECT md5(text) AS fp, count(*) AS n_docs,
      |  min(doc_id) AS keep_doc_id
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  /** Max document frequency for a shingle to count as discriminative. */
  val maxShingleDf = 50
  /** Jaccard threshold for reporting a near-duplicate pair. */
  val jaccardThreshold = 0.5
  /** Span length (in tokens) for exact-substring duplicate detection. */
  val substringGramLen = 8

  // ---- shared Spark-side pieces -------------------------------------

  /** (doc_id, sh): one row per distinct shingle per document.
    *
    * Two deliberate scale moves: (1) repartition the scan before the
    * CPU-heavy shingling so it parallelizes across all cores instead
    * of the single input-file partition (at 100 TB the scan has
    * thousands of splits and this is free); (2) materialize the token
    * array in its own projection so the shingle lambda reads an
    * attribute, not a re-evaluated split (see
    * TextFunctions.shingles3FromTokens perf note). */
  private def explodedShingles(spark: SparkSession, dir: String): DataFrame =
    Registry.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(
          TextFunctions.shingles3FromTokens(col("toks")))).as("sh"))

  // ---- shared DuckDB fragments --------------------------------------

  private val tokSql = "string_split(text, ' ')"
  /** Shared with TextOps (t_contamination): the decontamination scan
    * uses the identical 3-token shingling as the near-dup family. */
  private[queries] val shinglesListSql: String =
    s"""CASE WHEN len($tokSql) >= 3
       | THEN list_transform(generate_series(1, len($tokSql) - 2),
       |   i -> concat_ws(' ', $tokSql[i], $tokSql[i+1], $tokSql[i+2]))
       | ELSE [text] END""".stripMargin
  private val shCte =
    s"""sh AS (SELECT doc_id, unnest(list_distinct($shinglesListSql)) AS sh
       | FROM documents)""".stripMargin
  private val thSql = "CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT)"

  private def minhashAggSql: String =
    SketchFunctions.minhashCoeffs.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * th + $b) % ${SketchFunctions.P}) AS h$i"
    }.mkString(", ")

  private val sigCte =
    s"""sig AS (SELECT doc_id, $minhashAggSql
       | FROM (SELECT doc_id, $thSql AS th FROM sh) GROUP BY doc_id)""".stripMargin

  /** Shared with StreamingOps: the incremental streaming signature row
    * (s21) must converge to exactly this batch answer. */
  private[queries] val minhashSigOracleSql: String =
    s"""WITH $shCte, $sigCte
       |SELECT * FROM sig ORDER BY doc_id""".stripMargin

  /** Shared with StreamingOps: the incremental LSH band-pair row (s24)
    * must converge to exactly this batch answer. */
  private[queries] val minhashPairsOracleSql: String = {
    val bandSelects = (0 until SketchFunctions.numBands).map { j =>
      s"SELECT doc_id, $j AS bi, concat_ws('_', h${2 * j}, h${2 * j + 1}) AS bv FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH $shCte, $sigCte,
       |bands AS ($bandSelects)
       |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_bands
       |FROM bands a JOIN bands b
       |  ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 ORDER BY d1, d2""".stripMargin
  }

  /** Source-size threshold (bytes of documents parquet) above which
    * [[jaccardPairs]] switches from the broadcast self-join to the
    * grouped posting-list expansion + filt checkpoint (the 100 TB
    * shape — rationale at the branch below). The default keeps every
    * bench/test SF (≤ ~1 MB of documents) on the small branch, which
    * A/B runs measured faster there; a deployment overrides via
    * env to its own broadcast comfort point (filt is a few × source
    * bytes, and a broadcast relation beyond a few hundred MB starts
    * costing real driver+executor memory and build time). */
  private[queries] val jaccardGroupedMinBytes: Long =
    groupedMinBytes(sys.env.get("SPARK_GRAFT_JACCARD_GROUPED_MIN_BYTES"))

  /** Parses the switch point, failing fast with the knob's contract
    * instead of an opaque NumberFormatException at object load. */
  private[queries] def groupedMinBytes(raw: Option[String]): Long = {
    val bytes = raw.fold(Option(256L << 20))(_.trim.toLongOption)
    require(bytes.exists(_ >= 0),
      "SPARK_GRAFT_JACCARD_GROUPED_MIN_BYTES must be a non-negative " +
        "integer byte count (documents parquet size above which jaccard " +
        s"uses the grouped branch), got '${raw.getOrElse("")}'")
    bytes.get
  }

  /** Near-duplicate candidate pairs (d1 < d2, jaccard ≥ threshold) —
    * the shared core of dedup_shingle_jaccard and dedup_clusters. See
    * the dedup_shingle_jaccard entry for the localCheckpoint + df-cutoff
    * rationale. The pair-generation shape is STATS-DRIVEN:
    * documents-source bytes — known
    * from the file index, no job — pick the broadcast self-join below
    * [[jaccardGroupedMinBytes]] and the grouped posting-list expansion
    * above it. Both branches are pinned pair-identical by
    * JaccardScaleInversionSpec. */
  private[queries] def jaccardPairs(spark: SparkSession, dir: String,
                                    materialize: Boolean = false): DataFrame = {
    val srcBytes = Registry.table(spark, dir, "documents")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    jaccardPairsImpl(spark, dir, materialize,
      grouped = srcBytes > jaccardGroupedMinBytes)
  }

  private[queries] def jaccardPairsImpl(spark: SparkSession, dir: String,
                                        materialize: Boolean,
                                        grouped: Boolean): DataFrame = {
    val sh = explodedShingles(spark, dir).localCheckpoint()
    val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // filt feeds three consumers (shared, na, nb), whose plans each
    // re-evaluate the df aggregation + cutoff join. On the SMALL
    // branch deliberately NOT materialized: the duplicated subtrees
    // run concurrently inside one job wave and the box absorbs them,
    // while a checkpoint here is a barrier plus a full write of the
    // exploded rows — measured +0.9–1.4 s per consumer query at sf0.1
    // (A/B, min-of-3). On the LARGE branch the trade inverts (the
    // re-derived df shuffles dominate, idle cores don't exist), so
    // filt is pinned once.
    val filt0 = sh.join(df.filter(col("df") <= maxShingleDf), "sh")
      .select(col("doc_id"), col("sh"))
    val filt = if (grouped) filt0.localCheckpoint() else filt0
    val sizes = filt.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shared =
      if (!grouped) {
        // SMALL branch: the pair self-join. At bench scale both filt
        // sides broadcast, so the join is pipelined with zero
        // exchange, and the A/B (min-of-5, sf0.1) read the grouped
        // form +0.4 s per consumer (the ObjectHashAggregate + nested
        // transform/slice expansion costs more than the broadcast
        // probe).
        filt.as("a")
          .join(filt.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("shared"))
      } else {
        // LARGE branch: ONE sh-shuffle building df-bounded posting
        // lists (≤ maxShingleDf docs by construction — the df cutoff
        // already ran, so no list can blow a task), then an in-task
        // upper-triangle expansion. At 100 TB the self-join's two
        // shuffles of the exploded rows (no side broadcasts anymore)
        // are the dominant term; this shape moves each filt row
        // across the wire once and expands pairs where they land.
        // doc_ids are distinct per shingle (array_distinct upstream),
        // so the sorted posting list is strictly increasing and the
        // slice expansion yields exactly the join's d1 < d2 pairs.
        filt.groupBy(col("sh"))
          .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
          .select(explode(expr(
            "flatten(transform(ds, (x, i) -> " +
              "transform(slice(ds, i + 2, size(ds) - i - 1), " +
              "y -> struct(x AS d1, y AS d2))))")).as("p"))
          .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
          .agg(count(lit(1)).as("shared"))
      }
    val na = sizes.select(col("doc_id").as("d1"), col("n").as("n1"))
    val nb = sizes.select(col("doc_id").as("d2"), col("n").as("n2"))
    val pairs = shared.join(na, "d1").join(nb, "d2")
      .withColumn("jaccard", round(col("shared").cast("double") /
        (col("n1") + col("n2") - col("shared")), 6))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("d1"), col("d2"), col("jaccard"))
    // materialize=true for callers that consume the pairs more than
    // once (the CC entries: connectedComponents' symmetrized union
    // evaluates its input twice) — the pair set is tiny (near-dup
    // pairs only), so pinning it costs one small block write and
    // saves a full re-derivation of the pipeline per extra consumer
    if (materialize) pairs.localCheckpoint() else pairs
  }

  /** DuckDB CTE chain producing the same (d1, d2, jaccard) pairs. */
  private val pairsCtes =
    s"""$shCte,
       |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
       |filt AS (SELECT s.doc_id, s.sh FROM sh s JOIN df USING (sh)
       |         WHERE df <= $maxShingleDf),
       |sizes AS (SELECT doc_id, count(*) AS n FROM filt GROUP BY doc_id),
       |shared AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
       |  FROM filt a JOIN filt b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT d1, d2,
       |  round(shared::DOUBLE / (na.n + nb.n - shared), 6) AS jaccard
       |FROM shared
       |JOIN sizes na ON na.doc_id = d1
       |JOIN sizes nb ON nb.doc_id = d2
       |WHERE round(shared::DOUBLE / (na.n + nb.n - shared), 6) >= $jaccardThreshold)""".stripMargin

  /** CTE chain to the transitive closure of the pair graph — shared by
    * the clusters oracles and dedup_canonical. */
  private val reachCtes: String =
    s"""$pairsCtes,
       |edges AS (SELECT d1, d2 FROM pairs
       |          UNION ALL SELECT d2, d1 FROM pairs),
       |reach(doc, lab) AS (
       |  SELECT DISTINCT d1, d1 FROM edges
       |  UNION
       |  SELECT e.d2, r.lab FROM reach r JOIN edges e ON e.d1 = r.doc)""".stripMargin

  /** Shared by dedup_clusters and dedup_clusters_logn: both operators
    * must reach the same fixpoint (component = min reachable doc_id). */
  private val clustersOracleSql: String =
    s"""WITH RECURSIVE $reachCtes
       |SELECT doc AS doc_id, min(lab) AS cluster_id
       |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin

  /** The KEPT-corpus serve tail over a supplied (doc_id, cluster_id)
    * label table — a doc survives iff it is its cluster's canonical
    * representative (min doc_id = the component label) or sits in no
    * near-dup pair. Shared by dedup_canonical and the streamed
    * connected-components twin (s62), whose incrementally-built labels
    * must serve the same corpus. The label table is tiny relative to
    * the corpus (only docs with a near-dup), so it broadcasts and the
    * kept-set filter is scan-local. */
  private[queries] def canonicalFrom(spark: SparkSession, dir: String,
                                     clusters: DataFrame): DataFrame =
    Registry.table(spark, dir, "documents")
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull ||
        col("cluster_id") === col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Oracle for [[canonicalFrom]] fed by the recursive reachability
    * fixpoint — shared by dedup_canonical and s62. */
  private[queries] val canonicalOracleSql: String =
    s"""WITH RECURSIVE $reachCtes,
       |clusters AS (SELECT doc AS doc_id, min(lab) AS cluster_id
       |             FROM reach GROUP BY doc)
       |SELECT d.doc_id, d.lang, d.source, d.n_chars
       |FROM documents d LEFT JOIN clusters c USING (doc_id)
       |WHERE c.cluster_id IS NULL OR c.cluster_id = d.doc_id
       |ORDER BY doc_id""".stripMargin

  def entries: Seq[Entry] = Seq(

    Entry("dedup_exact",
      (spark, dir) => {
        Registry.table(spark, dir, "documents")
          .groupBy(md5(col("text")).as("fp"))
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
          .orderBy(col("fp"))
      },
      Some(DedupOps.exactDedupOracleSql)),

    // materialization note (applies to jaccardPairs above): the shingle
    // explode feeds the df filter, both self-join sides, and the size
    // table — without localCheckpoint the planner re-evaluates the
    // (CPU-heavy) shingling 8 times (observed via explain: 8 Generate
    // nodes). The 100 TB analog is checkpointing the exploded feature
    // table before the join.
    Entry("dedup_shingle_jaccard",
      (spark, dir) => jaccardPairs(spark, dir).orderBy(col("d1"), col("d2")),
      Some(s"""WITH $pairsCtes
        |SELECT d1, d2, jaccard FROM pairs ORDER BY d1, d2""".stripMargin)),

    // Near-dup CLUSTERS: connected components over the jaccard pair
    // graph, each doc labeled with the min doc_id reachable from it —
    // the step that turns pairwise similarity into "keep one canonical
    // doc per group" in a real dedup pipeline. The propagation loop
    // lives in core.GraphTools.connectedComponents (property-tested
    // against a union-find oracle); the fixpoint (min reachable id) is
    // unique, so the result is deterministic regardless of iteration
    // order, and the DuckDB oracle reaches the same fixpoint through a
    // recursive CTE.
    Entry("dedup_clusters",
      (spark, dir) => {
        graft.core.GraphTools
          .connectedComponents(jaccardPairs(spark, dir, materialize = true), "d1", "d2")
          .select(col("id").as("doc_id"), col("component").as("cluster_id"))
          .orderBy(col("doc_id"))
      },
      Some(clustersOracleSql)),

    // Same clustering through the O(log n)-round large-star/small-star
    // contraction (GraphTools.connectedComponentsLogN) — the scale path
    // when the pair graph's diameter is adversarial (long chains of
    // pairwise-similar docs), where propagation's O(diameter) rounds
    // would dominate. Must reach the identical fixpoint (min reachable
    // id), so it shares dedup_clusters' oracle verbatim.
    Entry("dedup_clusters_logn",
      (spark, dir) => {
        graft.core.GraphTools
          .connectedComponentsLogN(jaccardPairs(spark, dir, materialize = true), "d1", "d2")
          .select(col("id").as("doc_id"), col("component").as("cluster_id"))
          .orderBy(col("doc_id"))
      },
      Some(clustersOracleSql)),

    // End-to-end dedup: the KEPT corpus — what a curation pipeline
    // actually ships. A doc survives iff it is its cluster's canonical
    // representative (the min doc_id, which IS the component label the
    // clustering computes) or sits in no near-dup pair at all. One
    // left join after dedup_clusters; the cluster table is tiny
    // relative to the corpus (only docs with a near-dup), so at 100 TB
    // it broadcasts and the kept-set filter is scan-local.
    Entry("dedup_canonical",
      (spark, dir) => canonicalFrom(spark, dir,
        graft.core.GraphTools
          .connectedComponents(jaccardPairs(spark, dir, materialize = true), "d1", "d2")
          .select(col("id").as("doc_id"), col("component").as("cluster_id"))),
      Some(canonicalOracleSql)),

    // Edit-distance verification of the near-dup candidates: the
    // character-level second opinion on the token-level Jaccard pairs
    // (catches transposition/typo dups that token sets overweight, and
    // quantifies HOW close each pair is). The crucial scale property:
    // levenshtein — O(len²) per pair — runs ONLY on the bucketed
    // candidate pairs, never all pairs; texts are re-fetched by two
    // id-keyed joins after candidate generation (the slim-pair
    // discipline), so the quadratic work is proportional to true-ish
    // pairs, not the corpus squared.
    Entry("dedup_levenshtein",
      (spark, dir) => {
        val docs = Registry.table(spark, dir, "documents")
        val ta = docs.select(col("doc_id").as("d1"), col("text").as("t1"))
        val tb = docs.select(col("doc_id").as("d2"), col("text").as("t2"))
        jaccardPairs(spark, dir)
          .join(ta, "d1").join(tb, "d2")
          .select(col("d1"), col("d2"), col("jaccard"),
            levenshtein(col("t1"), col("t2")).cast("long").as("edit_dist"),
            round(lit(1.0) - levenshtein(col("t1"), col("t2")) /
              greatest(length(col("t1")), length(col("t2"))).cast("double"), 6)
              .as("edit_sim"))
          .orderBy(col("d1"), col("d2"))
      },
      Some(s"""WITH $pairsCtes
        |SELECT d1, d2, jaccard,
        |  levenshtein(a.text, b.text) AS edit_dist,
        |  round(1.0 - levenshtein(a.text, b.text) /
        |    greatest(length(a.text), length(b.text))::DOUBLE, 6) AS edit_sim
        |FROM pairs
        |JOIN documents a ON a.doc_id = d1
        |JOIN documents b ON b.doc_id = d2
        |ORDER BY d1, d2""".stripMargin)),

    Entry("dedup_minhash_sig",
      (spark, dir) => {
        SketchFunctions.minhashSignature(explodedShingles(spark, dir), "doc_id")
          .orderBy(col("doc_id"))
      },
      Some(minhashSigOracleSql)),

    Entry("dedup_minhash_pairs",
      (spark, dir) => {
        // materialized for the same reason as dedup_shingle_jaccard:
        // the 4-band union + self-join would re-derive the signature 8×
        val sig = SketchFunctions.withBands(
          SketchFunctions.minhashSignature(explodedShingles(spark, dir), "doc_id"))
          .localCheckpoint()
        val bands = (0 until SketchFunctions.numBands).map { j =>
          sig.select(col("doc_id"), lit(j).as("bi"), col(s"b$j").as("bv"))
        }.reduce(_ unionAll _)
        bands.as("a")
          .join(bands.as("b"), col("a.bi") === col("b.bi") &&
            col("a.bv") === col("b.bv") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("n_bands"))
          .orderBy(col("d1"), col("d2"))
      },
      Some(minhashPairsOracleSql)),

    Entry("dedup_simhash",
      (spark, dir) => {
        val toks = Registry.table(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .repartition(spark.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            explode(TextFunctions.tokens(col("text"))).as("tok"))
          .select(col("doc_id"), TextFunctions.tokenHash(col("tok")).as("th"))
        SketchFunctions.simhash32(toks, "doc_id").orderBy(col("doc_id"))
      },
      Some {
        val sums = (0 until 32).map { j =>
          s"sum(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
        }.mkString(", ")
        val packed = (0 until 32).map { j =>
          s"(CASE WHEN s$j > 0 THEN (1::BIGINT << $j) ELSE 0::BIGINT END)"
        }.mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
           |th AS (SELECT doc_id,
           |  CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS th FROM tok),
           |s AS (SELECT doc_id, $sums FROM th GROUP BY doc_id)
           |SELECT doc_id, $packed AS simhash32 FROM s ORDER BY doc_id""".stripMargin
      }),

    // EXACT-SUBSTRING DUPLICATION (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better", arXiv:2107.06499 —
    // public paper): find verbatim ≥k-token spans shared across
    // documents, the duplication the shingle-Jaccard family is blind
    // to (a 50-token boilerplate block inside two otherwise-different
    // pages moves Jaccard barely, but is exactly what a training run
    // memorizes). Per document: every k-token window is fingerprinted
    // (md5 — the slim join key; the paper's suffix array answers the
    // same membership question, but a fingerprint equi-join is the
    // shape that distributes), windows whose fingerprint occurs in
    // ≥2 DISTINCT documents are duplicated spans, and the output is
    // the per-document duplicated-window count and coverage ratio —
    // the quantity pipelines threshold on to drop or trim a document.
    // Scale shape: one shuffle on the fingerprint (never the text),
    // document-frequency computed on deduped (gram, doc) rows, and
    // the gram stream is materialized once for its two consumers
    // (df + per-doc rollup — the dedup_shingle_jaccard diamond
    // lesson).
    Entry("dedup_substring_spans",
      (spark, dir) => {
        val k = substringGramLen
        val grams = Registry.table(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .repartition(spark.sparkContext.defaultParallelism)
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= k)
          .select(col("doc_id"),
            explode(transform(sequence(lit(1), size(col("t")) - (k - 1)),
              i => md5(concat_ws(" ", slice(col("t"), i, lit(k)))))).as("g"))
          // already projected to the minimal (doc_id, gram-md5) pair —
          // no text/token arrays are checkpointed; at cluster scale
          // this is a reliable checkpoint (spark.checkpoint to shared
          // storage) rather than executor-pinned localCheckpoint
          .localCheckpoint()
        val df = grams.select(col("g"), col("doc_id")).distinct()
          .groupBy(col("g")).agg(count(lit(1)).as("nd"))
        grams.join(df, "g")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("dup_grams"))
          .withColumn("dup_coverage",
            round(col("dup_grams").cast("double") / col("n_grams"), 6))
          .orderBy(col("doc_id"))
      },
      Some(substringSpansOracleSql)),

    // EXACT-SUBSTRING TRIM — the transform half of
    // dedup_substring_spans (Lee et al. 2022 actually CUT the
    // duplicated spans, they didn't just score them): re-emit every
    // document's text with duplicated windows removed. Rule: a window
    // is removable iff its gram occurs in ≥2 distinct documents AND
    // this document is NOT the lowest-id holder — the first holder
    // keeps its copy (the corpus retains exactly one occurrence), and
    // a token is dropped iff some removable window covers it. The
    // rule is a pure function of the converged gram stats, so it is
    // deterministic and engine-independent. Scale shape: the window
    // stream (doc, pos, gram-md5) is the only wide data; gram stats
    // and removable windows are slim equi-joins on the fingerprint,
    // covered positions fold back per document, and the final token
    // filter is scan-local (filter-with-index over the token array).
    Entry("dedup_substring_trim",
      (spark, dir) => {
        val k = substringGramLen
        val toks = Registry.table(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .repartition(spark.sparkContext.defaultParallelism)
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
        val wins = toks.filter(size(col("t")) >= k)
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(1), size(col("t")) - (k - 1)),
              i => md5(concat_ws(" ", slice(col("t"), i, lit(k)))))))
          .select(col("doc_id"), (col("pos") + 1).cast("long").as("i"),
            col("col").as("g"))
          // minimal (doc_id, pos, gram-md5) rows only; cluster-scale
          // substitution: reliable checkpoint to shared storage
          .localCheckpoint()
        val gstat = wins.groupBy(col("g"))
          .agg(count_distinct(col("doc_id")).as("nd"),
            min(col("doc_id")).as("mind"))
        val covered = wins.join(gstat, "g")
          .filter(col("nd") >= 2 && col("doc_id") > col("mind"))
          .select(col("doc_id"),
            explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
          .groupBy(col("doc_id"))
          .agg(collect_set(col("p")).as("cov"))
        toks.join(covered, Seq("doc_id"), "left")
          .select(col("doc_id"), col("t"),
            coalesce(col("cov"), array().cast("array<long>")).as("cov"))
          .select(col("doc_id"),
            size(col("t")).cast("long").as("n_tokens"),
            filter(col("t"), (_, idx) =>
              !array_contains(col("cov"), idx.cast("long") + 1L)).as("kept"))
          .select(col("doc_id"), col("n_tokens"),
            size(col("kept")).cast("long").as("n_kept"),
            concat_ws(" ", col("kept")).as("trimmed_text"))
          .orderBy(col("doc_id"))
      },
      Some(substringTrimOracleSql))
  )

  /** Shared with StreamingOps (s42): the incremental trim state must
    * converge to exactly this batch answer. */
  private[queries] val substringTrimOracleSql: String = {
    val k = substringGramLen
    s"""WITH toks AS (SELECT doc_id, $tokSql AS t FROM documents),
           |w0 AS (SELECT doc_id,
           |    unnest(list_transform(generate_series(1, len(t) - ${k - 1}),
           |      i -> {'i': i,
           |            'g': md5(array_to_string(t[i:i + ${k - 1}], ' '))}))
           |      AS u
           |  FROM toks WHERE len(t) >= $k),
           |w AS (SELECT doc_id, u.i AS i, u.g AS g FROM w0),
           |gstat AS (SELECT g, count(DISTINCT doc_id) AS nd,
           |    min(doc_id) AS mind FROM w GROUP BY g),
           |rem AS (SELECT w.doc_id, w.i FROM w JOIN gstat USING (g)
           |  WHERE nd >= 2 AND w.doc_id > mind),
           |cov AS (SELECT doc_id, list(DISTINCT p) AS cov FROM (
           |    SELECT doc_id, unnest(generate_series(i, i + ${k - 1})) AS p
           |    FROM rem) GROUP BY doc_id),
           |kept AS (SELECT t.doc_id, t.t,
           |    list_filter(t.t, (x, p) ->
           |      NOT list_contains(coalesce(cov.cov, []::BIGINT[]), p)) AS kept
           |  FROM toks t LEFT JOIN cov ON cov.doc_id = t.doc_id)
           |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
           |  CAST(len(kept) AS BIGINT) AS n_kept,
           |  -- array_to_string([]) is NULL in DuckDB but concat_ws('')
           |  -- is '' in Spark; a fully-trimmed doc must agree
           |  coalesce(array_to_string(kept, ' '), '') AS trimmed_text
           |FROM kept ORDER BY doc_id""".stripMargin
  }

  /** Shared with StreamingOps (s36): the incremental substring-span
    * state must converge to exactly this batch answer. */
  private[queries] val substringSpansOracleSql: String = {
    val k = substringGramLen
    s"""WITH toks AS (SELECT doc_id, $tokSql AS t FROM documents
       |  WHERE len($tokSql) >= $k),
       |g AS (SELECT doc_id,
       |    unnest(list_transform(generate_series(1, len(t) - ${k - 1}),
       |      i -> md5(array_to_string(t[i:i + ${k - 1}], ' ')))) AS g
       |  FROM toks),
       |df AS (SELECT g, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
       |  FROM g GROUP BY g)
       |SELECT doc_id, count(*) AS n_grams,
       |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS dup_grams,
       |  round(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    / count(*), 6) AS dup_coverage
       |FROM g JOIN df USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}
