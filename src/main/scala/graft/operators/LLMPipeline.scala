package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.SortedIntersectCount
import graft.functions.Text.wordsCol
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM training-data pipeline operators (SURVEY.md §2.B group 10, the
  * BASELINE north star): deduplication (exact, token-set, pairwise
  * Jaccard, MinHash-LSH, SimHash), embedding similarity search
  * (brute-force top-k, centroid kNN, hyperplane-LSH bucketing), and text
  * analysis (quality scoring, language-ID, token counting,
  * fingerprinting) over the `documents` / `embeddings` tables.
  *
  * Scale design: every op is one or two hash shuffles on a content key —
  * no global sorts except final presentation ORDER BYs on small results.
  * The pairwise Jaccard op blocks on `source` (in production: LSH band
  * or length bucket) so the quadratic step is bounded per block; the LSH
  * ops are the O(n) replacements once blocks outgrow memory.
  *
  * Portability: word hashes for SimHash use the first 15 hex chars of
  * md5 parsed as a 60-bit integer — identical in Spark
  * (`conv(substring(md5(w),1,15),16,10)`) and DuckDB
  * (`('0x'||substr(md5(w),1,15))::BIGINT`), so the oracle can verify
  * sketches bit-for-bit.
  */
object LLMPipeline {
  import CausalOps.{r2, r6}

  /** Hard ceiling for q62's exact class-pair enumeration — the
    * guardFullEnum pattern (CausalOps) applied to the dedup family: the
    * exact Jaccard baseline is Θ(class pairs) BY CONTRACT, so past this
    * many equivalence classes in one source it fails loudly and points
    * at the sub-quadratic banding path instead of silently launching a
    * cluster-killing join. One tiny aggregate over the (cached) class
    * table; the class table itself is source-grain, not corpus-grain.
    *
    * Ceiling calibrated by the round-10 scale ladder: 10,000 classes per
    * source ≈ 5·10⁷ class pairs per source (≈10⁹ over the 20-source
    * corpus) — measured ~5.5M merge-count evals/s on local[32], i.e.
    * minutes locally and trivial on a cluster. The sf1 corpus (≈2,400
    * classes/source) passes; the class-rich sf10 corpus (≈24,000/source,
    * ≈5.7·10⁹ pairs) TRIPS — by design: on a corpus whose duplicate
    * classes grow with N, the exact baseline is the wrong operator and
    * the banding family (q71/q225/q135) is the scale path. Dup-heavy
    * real corpora, where classes saturate while docs grow, stay under
    * the ceiling — exactly the regime this exact readout exists for.
    */
  private[graft] val MaxExactJaccardClasses = 10000L

  private[graft] def guardExactJaccard(cls: org.apache.spark.sql.DataFrame): Long = {
    val m = cls.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L))).head.getLong(0)
    if (m > MaxExactJaccardClasses && graft.GraftSession.strictGuards)
      throw new IllegalStateException(
        s"q62_near_dup_jaccard enumerates all O(C^2) token-set class pairs per " +
          s"source and one source has C=$m classes, exceeding " +
          s"MaxExactJaccardClasses=$MaxExactJaccardClasses; use the MinHash " +
          "banding path (q225_lsh_dedup_verified / q135_dedup_components) " +
          "for approximate near-dup at that scale")
    m
  }

  /** q62's (source, token-set) class table — the shared input of both
    * the naive and the banded cross-class pair paths. */
  private[graft] def q62Classes(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val ws = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        array_sort(array_distinct(transform(wordsCol(col("text")), w => xxhash64(w))))
          .as("w"))
    graft.PlanCache.cached(s, s"q62_classes|$d") {
      ws.groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("cid"))
    }
  }

  /** Exact verify of one candidate class-pair set: size-ratio prefilter
    * (J ≥ 0.5 ⇒ |a| ≤ 2|b| and vice versa), allocation-free merge-count
    * intersection, J ≥ 0.5 cut — shared by the naive (all class pairs)
    * and banded (bucket candidates only) cross paths, so the two differ
    * ONLY in candidate generation and banded pairs ⊆ naive pairs by
    * construction (pinned in DedupSpec). */
  private def q62Verify(pairs: DataFrame): DataFrame =
    pairs
      .where(size(col("aw")) <= size(col("bw")) * 2
        && size(col("bw")) <= size(col("aw")) * 2)
      .select(col("source"), (col("acnt") * col("bcnt")).as("np"),
        expr("sorted_intersect_count(aw, bw)").cast("double").as("inter"),
        size(col("aw")).as("na"), size(col("bw")).as("nb"))
      .withColumn("j", col("inter") / (col("na") + col("nb") - col("inter")))
      .where(col("j") >= 0.5)
      .select(col("source"), col("np"), col("j"), lit(0L).as("ident"))

  /** Banded-minhash cross-class candidates (round 13, VERDICT r12 #1):
    * the scale route q62 takes when a source's class count exceeds
    * [[MaxExactJaccardClasses]]. 8 min-hash signatures per class over
    * its token-hash set (xxhash64(token, seed) — engine-internal is fine
    * here: this path only runs ABOVE oracle scale, and DedupSpec pins
    * its output against the naive form instead), banded 2-at-a-time into
    * 4 LSH bands (detection probability 1-(1-J²)⁴ ≈ 0.68 at J = 0.5,
    * 1.0 at J = 1); candidates are generated ONLY inside (source, band,
    * key) buckets — work is Σ bucket², never C² — deduped across bands,
    * then fed to the SAME exact verify as the naive path. Recall < 1 on
    * borderline pairs is the documented price of retiring the loud
    * guard: every emitted pair is exactly verified, no pair is invented,
    * and the registry no longer has a scale dead-end (the sf10 rung's
    * only two designed failures were q62/q262). */
  private[graft] def q62CrossBanded(cls: DataFrame): DataFrame = {
    // Plan shape (round 14, from the sf100 probe): the first banded form
    // generated candidates as a bands⋈bands self-join, then .distinct()
    // over the (source, a, b) pair stream, then joined BACK to the class
    // table twice to re-attach the token arrays — at sf100 that is a
    // 1.13B-row distinct plus two 1.13B-row joins, and the rung measured
    // 941 s (candidates themselves grew only 13.9× from sf10's 81M).
    // The rewrite ships the token array and the full signature vector
    // WITH each band row (one shuffle of 4×classes rows, ~350 B each)
    // and enumerates pairs inside each (source, band, key) bucket with
    // FIRST-MATCHING-BAND dedup: a pair is emitted only in the lowest
    // band whose key matches (both rows carry all 8 minhashes, so the
    // check is 2·band long compares) — provably the same pair set as
    // the old global distinct, with zero extra shuffles. The verify is
    // the same size-ratio prefilter + two-pointer merge intersection as
    // q62Verify, inlined over the sorted hash arrays. Isolated: sf10
    // 17.5 → 10.3 s, sf100 941.6 → 42.6 s (4.1× across the 10× rung).
    val s = cls.sparkSession
    import s.implicits._
    val sigCols = (0 until 8).map(si =>
      array_min(transform(col("w"), x => xxhash64(x, lit(si)))).as(s"mh$si"))
    val sig = cls.select(
      Seq(col("source"), col("cid"), col("w"), col("cnt")) ++ sigCols: _*)
      .select(col("source"), col("cid"), col("w"), col("cnt"),
        array((0 until 8).map(si => col(s"mh$si")): _*).as("mhs"))
    val bands = sig.select(col("source"), col("cid"), col("w"), col("cnt"),
        col("mhs"), explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("source"), col("band"),
        concat_ws("_", element_at(col("mhs"), col("band") * 2 + 1),
          element_at(col("mhs"), col("band") * 2 + 2)).as("key"),
        col("cid"), col("w"), col("cnt"), col("mhs"))
    val pairs = bands
      .as[(String, Int, String, Long, Array[Long], Long, Array[Long])]
      .groupByKey { case (src, band, key, _, _, _, _) => (src, band, key) }
      .flatMapGroups { (gk: (String, Int, String),
          it: Iterator[(String, Int, String, Long, Array[Long], Long, Array[Long])]) =>
        val src = gk._1; val band = gk._2
        val rows = it.toArray.sortBy(_._4) // ascending cid
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
        var i = 0
        while (i < rows.length - 1) {
          val (_, _, _, _, aw, acnt, amhs) = rows(i)
          var jj = i + 1
          while (jj < rows.length) {
            val (_, _, _, _, bw, bcnt, bmhs) = rows(jj)
            // first-matching-band dedup: skip if an earlier band already
            // bucketed this pair
            var dup = false; var bb = 0
            while (bb < band && !dup) {
              if (amhs(2 * bb) == bmhs(2 * bb) &&
                amhs(2 * bb + 1) == bmhs(2 * bb + 1)) dup = true
              bb += 1
            }
            // size-ratio prefilter: J ≥ 0.5 ⇒ |a| ≤ 2|b| and |b| ≤ 2|a|
            if (!dup && aw.length <= 2 * bw.length && bw.length <= 2 * aw.length) {
              val j = SortedIntersectCount.jaccard(aw, bw)
              if (j >= 0.5) out += ((src, acnt * bcnt, j))
            }
            jj += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("source", "np", "j")
      .select(col("source"), col("np"), col("j"), lit(0L).as("ident"))
    pairs
  }

  /** Naive cross-class pairs: the salted all-class-pairs join (the exact
    * baseline — see the q62 QueryDef scaladoc for the full plan
    * rationale). Runs when every source is under the class ceiling. */
  private[graft] def q62CrossNaive(s: org.apache.spark.sql.SparkSession,
      cls: DataFrame): DataFrame = {
    val salts = 8
    val a = cls.select(col("cid").as("a_id"), col("source"), col("w").as("aw"),
        col("cnt").as("acnt"))
      .crossJoin(broadcast(
        s.range(salts).select(col("id").cast("int").as("salt"))))
    val b = cls.select(col("cid").as("b_id"), col("source").as("b_src"),
      col("w").as("bw"), col("cnt").as("bcnt"))
      .withColumn("b_salt", pmod(col("b_id"), lit(salts)).cast("int"))
    q62Verify(a.hint("shuffle_hash")
      .join(b, col("source") === col("b_src") && col("salt") === col("b_salt")
        && col("a_id") < col("b_id"))
      .select(col("source"), col("a_id"), col("b_id"),
        col("aw"), col("bw"), col("acnt"), col("bcnt")))
  }

  /** The q62 readout over any cross-pair set: union with the exact
    * within-class pairs (J = 1 by definition, counted in closed form)
    * and roll up per source. */
  private[graft] def q62Readout(cross: DataFrame, cls: DataFrame): DataFrame = {
    val within = cls.where(col("cnt") >= 2)
      .select(col("source"),
        ((col("cnt") * (col("cnt") - 1)) / 2).cast("long").as("np"),
        lit(1.0).as("j"),
        ((col("cnt") * (col("cnt") - 1)) / 2).cast("long").as("ident"))
    cross.unionByName(within)
      .groupBy("source")
      .agg(sum(col("np")).as("n_pairs_50"),
        sum(col("ident")).as("n_identical_sets"),
        r6(max(col("j"))).as("max_j"))
      .orderBy("source")
  }

  // ---- deterministic literal query vector for top-k search (64-dim) ----
  private val qvec: Array[Double] = Array.tabulate(64)(i => ((i * 37) % 19 - 9) / 10.0)
  private def qvecSparkLit: Column = array(qvec.map(lit): _*)
  private def qvecSqlList: String = qvec.mkString("[", ", ", "]::DOUBLE[]")

  // ---- deterministic hyperplanes for LSH bucketing (8 planes × 64;
  // see Lsh scaladoc for the plane-count scale knob) ----
  private val planes: Array[Array[Double]] = Lsh.hyperplanes(8)

  private val simBits = 16

  val defs: Seq[QueryDef] = Seq(

    /** Exact dedup: sha256 content key, keep lowest doc_id per key.
      * One shuffle on the hash; at 100 TB this is the canonical
      * first-pass dedup (hash is 32 bytes regardless of doc size).
      */
    QueryDef(
      "q60_dedup_exact",
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT sha256(text)) AS n_uniq,
        |  count(*) - count(DISTINCT sha256(text)) AS n_dropped
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val h = sha2(col("text"), 256)
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(h).as("n_uniq"),
          (count(lit(1)) - countDistinct(h)).as("n_dropped"))
        .orderBy("source")
    },

    /** Near-dup clusters by token-SET fingerprint (order/frequency
      * insensitive): md5 of the sorted distinct word list. O(n), one
      * shuffle — catches the Jaccard=1.0 permutation/repetition dups.
      */
    QueryDef(
      "q61_dedup_tokenset",
      """WITH fp AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(list_sort(list_distinct(
        |      list_filter(string_split(text,' '), w -> w != ''))), ' ')) AS setfp
        |  FROM documents)
        |SELECT setfp, count(*) AS cluster_size, min(doc_id) AS canonical_doc,
        |  count(DISTINCT source) AS n_sources
        |FROM fp GROUP BY setfp HAVING count(*) > 1
        |ORDER BY setfp""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .withColumn("setfp",
          md5(array_join(array_sort(array_distinct(wordsCol(col("text")))), " ")))
        .groupBy("setfp")
        .agg(count(lit(1)).as("cluster_size"),
          min(col("doc_id")).as("canonical_doc"),
          countDistinct(col("source")).as("n_sources"))
        .where(col("cluster_size") > 1)
        .orderBy("setfp")
    },

    /** Pairwise token-set Jaccard within a blocking key (`source`):
      * the quadratic verify step of a dedup pipeline, bounded per block.
      * At 100 TB the block key becomes an LSH band (q62) — the pair
      * arithmetic here is unchanged.
      */
    QueryDef(
      "q62_near_dup_jaccard",
      """WITH ws AS (
        |  SELECT doc_id, source,
        |    list_distinct(list_filter(string_split(text,' '), w -> w != '')) AS w
        |  FROM documents)
        |SELECT a.source,
        |  count(*) AS n_pairs_50,
        |  CAST(count_if(len(list_intersect(a.w,b.w)) = len(a.w)
        |           AND len(a.w) = len(b.w)) AS BIGINT) AS n_identical_sets,
        |  round(max(len(list_intersect(a.w,b.w))::DOUBLE /
        |        (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w)))), 6) AS max_j
        |FROM ws a JOIN ws b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.w,b.w))::DOUBLE /
        |      (len(a.w) + len(b.w) - len(list_intersect(a.w,b.w))) >= 0.5
        |GROUP BY a.source ORDER BY a.source""".stripMargin) { (s, d) =>
      // intersect on SORTED 64-bit word hashes, not strings: same counts
      // (the corpus vocabulary is a fixed small set, collision-free
      // under xxhash64 — the sf0.01 hash-compare against the
      // string-based oracle proves the equivalence). Sorting once per
      // ROW lets the pair loop use the allocation-free merge-count
      // expression instead of array_intersect's per-PAIR hash set.
      //
      // CLASS-COLLAPSED exact form (round 9, from the sf1 evidence run:
      // this query is the suite's one by-contract quadratic baseline —
      // 62M pair evaluations at sf1): J(a,b) depends only on the two
      // token SETS, so docs first collapse into (source, set)
      // equivalence classes and the pair loop runs over CLASS pairs,
      // multiplying each match by cnt_a·cnt_b; within-class pairs are
      // J=1 by definition and never enter the join. Bit-identical
      // readout (the sf0.01 all-pairs oracle still hash-matches), work
      // = Σ_source C(classes, 2) ≤ Σ_source C(docs, 2) — and on the
      // dup-heavy corpora this operator exists for, classes saturate
      // while docs grow, which is exactly the 100 TB exact-dedup shape.
      // Prefix/banding does NOT apply here losslessly-and-profitably:
      // the corpus vocabulary is ~31 words (every token's df ≈ 0.78·N)
      // and 71% of all pairs genuinely clear J ≥ 0.5, so candidate
      // generation cannot beat Θ(matching pairs); the sub-quadratic
      // APPROXIMATE path is the banding family (q71/q220/q225/q135).
      SortedIntersectCount.register(s)
      val cls = q62Classes(s, d)
      // Size-ratio prefilter + salted shuffle join (q93's pattern) live
      // in [[q62CrossNaive]]: the equi-key (source) has only ~20 values,
      // so each b class lands in ONE of 8 salt shards and the a side
      // replicates 8×, spreading the pair work over 160 reducers;
      // every cid_a<cid_b class pair still meets exactly once.
      //
      // ROUTING (round 13, VERDICT r12 #1): past the class ceiling the
      // exact enumeration is the wrong operator, and instead of the old
      // loud refusal the query now takes [[q62CrossBanded]] — minhash
      // band buckets generate the candidates, the SAME exact verify
      // confirms them (pairs ⊆ naive by construction, DedupSpec), and
      // within-class identical pairs stay closed-form exact either way.
      // `-Dgraft.strictGuards=true` restores the refusal.
      val maxClasses = guardExactJaccard(cls)
      val cross =
        if (maxClasses > MaxExactJaccardClasses) {
          graft.GraftSession.routedWarn(
            s"q62_near_dup_jaccard: $maxClasses classes in one source > " +
              s"MaxExactJaccardClasses=$MaxExactJaccardClasses — taking the " +
              "banded-minhash APPROXIMATE candidate path (pairs ⊆ naive, " +
              "recall < 1 on low-J pairs); set -Dgraft.strictGuards=true " +
              "to fail loudly instead")
          q62CrossBanded(cls)
        } else q62CrossNaive(s, cls)
      q62Readout(cross, cls)
    },

    /** SimHash sketch (16-bit, portable md5-derived word hashes):
      * per-document fingerprint whose hamming distance approximates
      * cosine similarity of the term-frequency vectors. Output is the
      * sketch histogram — bucket collisions are the near-dup candidates.
      */
    QueryDef(
      "q63_simhash", {
        val bitSums = (0 until simBits).map(jj =>
          s"sum(((h >> $jj) & 1) * 2 - 1) AS s$jj").mkString(",\n        ")
        val bitsExpr = (0 until simBits).map(jj =>
          s"CASE WHEN s$jj > 0 THEN ${1 << jj} ELSE 0 END").mkString(" + ")
        s"""WITH tok AS (
           |  SELECT doc_id, unnest(list_filter(string_split(text,' '), w -> w != '')) AS w
           |  FROM documents),
           |hashed AS (
           |  SELECT doc_id, ('0x' || substr(md5(w),1,15))::BIGINT AS h FROM tok),
           |bits AS (
           |  SELECT doc_id,
           |        $bitSums
           |  FROM hashed GROUP BY doc_id),
           |sh AS (SELECT doc_id, $bitsExpr AS simhash FROM bits)
           |SELECT CAST(simhash AS BIGINT) AS simhash, count(*) AS n_docs,
           |  min(doc_id) AS min_doc
           |FROM sh GROUP BY simhash HAVING count(*) > 1
           |ORDER BY simhash""".stripMargin
      }) { (s, d) =>
      // Native one-pass fingerprint (SimHash64 scaladoc): the explode +
      // 16-sum-aggregate form spent its time materializing a row per
      // token; this plan is map-side until the final fingerprint groupBy.
      graft.functions.SimHash64.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr(s"simhash64(filter(split(text, ' '), w -> w != ''), $simBits)")
            .as("simhash"))
        .groupBy("simhash")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .where(col("n_docs") > 1)
        .orderBy("simhash")
    },

    /** Brute-force cosine top-k against a (broadcast) query vector — the
      * exact baseline every ANN variant is measured against. One
      * narrow pass + a k-row global top-k.
      */
    QueryDef(
      "q64_embedding_topk",
      s"""SELECT vec_id, label,
         |  round(list_cosine_similarity(embedding::DOUBLE[], $qvecSqlList), 6) AS cos
         |FROM embeddings
         |ORDER BY list_cosine_similarity(embedding::DOUBLE[], $qvecSqlList) DESC, vec_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      import graft.functions.Kernels
      val e = Tables.embeddings(s, d)
        .withColumn("emb", col("embedding").cast("array<double>"))
        .withColumn("cosF", Kernels.cosine(col("emb"), qvecSparkLit))
      e.orderBy(col("cosF").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), r6(col("cosF")).as("cos"))
    },

    /** Centroid kNN / nearest-centroid classification: per-label mean
      * vector (posexplode + two shuffles), broadcast the 10 centroids,
      * assign each embedding to its max-cosine centroid, emit the
      * label×assignment confusion counts. The IVF-style coarse
      * quantizer of an ANN index, end to end.
      */
    QueryDef(
      "q65_centroid_knn",
      s"""WITH ${HybridOps.centroidSql},
        |${HybridOps.assignedSql("e.label")}
        |SELECT label, clabel AS pred_label, count(*) AS n
        |FROM assigned WHERE rn = 1
        |GROUP BY label, clabel ORDER BY label, pred_label""".stripMargin) { (s, d) =>
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .withColumn("emb", col("embedding").cast("array<double>"))
      val cent = HybridOps.labelCentroids(e)
      // Assignment runs as a typed mapPartitions over the driver-held
      // centroid matrix (round 14 — the q477/semAssign typed-kernel
      // lesson applied to the last remaining Column-fold argmax: the
      // K-centroid HOF fold allocated a zip_with scratch array per
      // centroid per row and measured 56 s isolated at sf10; the kernel
      // runs it in 2.5 s — near-flat from sf0.1's 1.8 s, bounded by the
      // K x N x D flops at memory bandwidth). Centroids collect at label grain (the
      // bounded model-grain collect the .collect() audit allows),
      // ascending clabel; the loop keeps the strictly-greater argmax ⇒
      // FIRST (smallest-clabel) winner on exact ties — the oracle's
      // `ORDER BY cos DESC, clabel` rule — with the same summation
      // order as Kernels.cosine's left-to-right folds and the same
      // NaN→-2.0 coalesce under a -3.0 seed, so a zero-norm or null
      // row still deterministically takes the first centroid. No row
      // ever shuffles for assignment; the only shuffles left are the
      // centroid build and the final confusion-count aggregate.
      val cArr = cent.select(col("clabel"), col("cvec"))
        .as[(Int, Array[Double])].collect().sortBy(_._1)
      val bc = s.sparkContext.broadcast(cArr)
      val cNorms = cArr.map { c =>
        var nb = 0.0; var k = 0
        while (k < c._2.length) { nb += c._2(k) * c._2(k); k += 1 }
        math.sqrt(nb)
      }
      val bcN = s.sparkContext.broadcast(cNorms)
      e.select(col("label"), col("emb")).as[(Int, Array[Double])]
        .mapPartitions { it =>
          val cs = bc.value; val cn = bcN.value
          it.map { case (label, emb) =>
            // seed -3.0: even an all-(-2.0) row strictly beats it on the
            // first centroid, so a null/zero-norm row takes cs(0)
            var bestCos = -3.0; var bestLabel = cs(0)._1
            if (emb != null) {
              var na = 0.0; var k = 0
              while (k < emb.length) { na += emb(k) * emb(k); k += 1 }
              val rn = math.sqrt(na)
              var ci = 0
              while (ci < cs.length) {
                val cv = cs(ci)._2
                // zip_with null-pads mismatched lengths → null cosine →
                // the -2.0 coalesce; mirror that, not a prefix fold
                var cos =
                  if (emb.length != cv.length) -2.0
                  else {
                    var dot = 0.0; var j = 0
                    while (j < cv.length) { dot += emb(j) * cv(j); j += 1 }
                    dot / (rn * cn(ci))
                  }
                if (cos.isNaN) cos = -2.0
                if (cos > bestCos) { bestCos = cos; bestLabel = cs(ci)._1 }
                ci += 1
              }
            }
            (label, bestLabel)
          }
        }
        .toDF("label", "pred_label")
        .groupBy(col("label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "pred_label")
    },

    /** Random-hyperplane LSH bucketing (8 fixed planes → 256 buckets):
      * the O(n) candidate-generation pass of an ANN index. Output is the
      * occupancy histogram; search = same bucketing on the query +
      * brute force within the bucket (q64's kernel).
      */
    QueryDef(
      "q66_ann_lsh_buckets", {
        val bucketSql = Lsh.bucketSql(planes, i => s"embedding[${i + 1}]::DOUBLE")
        s"""SELECT CAST($bucketSql AS INT) AS bucket,
           |  count(*) AS n_vecs, count(DISTINCT label) AS n_labels
           |FROM embeddings
           |GROUP BY 1 ORDER BY bucket""".stripMargin
      }) { (s, d) =>
      val e = Tables.embeddings(s, d)
        .withColumn("emb", col("embedding").cast("array<double>"))
      val bucket = Lsh.bucketColumn(col("emb"), planes)
      e.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_vecs"), countDistinct(col("label")).as("n_labels"))
        .orderBy("bucket")
    },

    /** Text quality scoring: length/word/uniqueness/stopword ratios per
      * document, aggregated per source (the keep/drop signal of a
      * pretraining filter).
      */
    QueryDef(
      "q67_text_quality",
      """WITH q AS (
        |  SELECT source, n_chars,
        |    len(list_filter(string_split(text,' '), w -> w != '')) AS n_words,
        |    len(list_distinct(list_filter(string_split(text,' '), w -> w != ''))) AS n_uniq,
        |    len(list_filter(string_split(text,' '),
        |        w -> w IN ('the','a','of','and','to'))) AS n_stop
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  round(avg(n_chars),6) AS avg_chars,
        |  round(avg(n_words),6) AS avg_words,
        |  round(avg(n_uniq::DOUBLE / n_words),6) AS avg_uniq_ratio,
        |  round(avg(n_stop::DOUBLE / n_words),6) AS avg_stop_ratio
        |FROM q GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val words = wordsCol(col("text"))
      val stops = Seq("the", "a", "of", "and", "to")
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"),
          size(words).cast("double").as("n_words"),
          size(array_distinct(words)).cast("double").as("n_uniq"),
          size(filter(words, w => w.isin(stops: _*))).cast("double").as("n_stop"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          r6(avg(col("n_chars"))).as("avg_chars"),
          r6(avg(col("n_words"))).as("avg_words"),
          r6(avg(col("n_uniq") / col("n_words"))).as("avg_uniq_ratio"),
          r6(avg(col("n_stop") / col("n_words"))).as("avg_stop_ratio"))
        .orderBy("source")
    },

    /** Language-ID by marker-token ratio (n-gram-heuristic family):
      * score each language by its marker hit-rate, argmax with
      * alphabetical tie-break, report the confusion against the labeled
      * `lang` column. (On this synthetic corpus most text scores 'en' —
      * the operator contract is determinism, not classifier quality.)
      */
    QueryDef(
      "q68_lang_id",
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and'))) AS s_en,
        |    len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und'))) AS s_de,
        |    len(list_filter(string_split(text,' '), w -> w IN ('el','la','los','y'))) AS s_es,
        |    len(list_filter(string_split(text,' '), w -> w IN ('le','les','et','une'))) AS s_fr,
        |    len(list_filter(string_split(text,' '), w -> w IN ('的','是','了','在'))) AS s_zh
        |  FROM documents),
        |pred AS (
        |  SELECT lang,
        |    CASE
        |      WHEN greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 THEN 'und'
        |      WHEN s_de = greatest(s_en,s_de,s_es,s_fr,s_zh) AND s_de > s_en THEN 'de'
        |      WHEN s_es = greatest(s_en,s_de,s_es,s_fr,s_zh) AND s_es > s_en AND s_es > s_de THEN 'es'
        |      WHEN s_fr = greatest(s_en,s_de,s_es,s_fr,s_zh) AND s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
        |      WHEN s_zh = greatest(s_en,s_de,s_es,s_fr,s_zh) AND s_zh > s_en AND s_zh > s_de AND s_zh > s_es AND s_zh > s_fr THEN 'zh'
        |      ELSE 'en' END AS pred
        |  FROM sc)
        |SELECT lang, pred, count(*) AS n
        |FROM pred GROUP BY lang, pred ORDER BY lang, pred""".stripMargin) { (s, d) =>
      val words = wordsCol(col("text"))
      def score(markers: Seq[String]) =
        size(filter(words, w => w.isin(markers: _*)))
      val sEn = score(Seq("the", "a", "of", "and"))
      val sDe = score(Seq("der", "die", "das", "und"))
      val sEs = score(Seq("el", "la", "los", "y"))
      val sFr = score(Seq("le", "les", "et", "une"))
      val sZh = score(Seq("的", "是", "了", "在"))
      val best = greatest(sEn, sDe, sEs, sFr, sZh)
      // priority order en > de > es > fr > zh on ties (matches oracle)
      val pred = when(best === 0, "und")
        .when(sDe === best && sDe > sEn, "de")
        .when(sEs === best && sEs > sEn && sEs > sDe, "es")
        .when(sFr === best && sFr > sEn && sFr > sDe && sFr > sEs, "fr")
        .when(sZh === best && sZh > sEn && sZh > sDe && sZh > sEs && sZh > sFr, "zh")
        .otherwise("en")
      Tables.documents(s, d)
        .select(col("lang"), pred.as("pred"))
        .groupBy("lang", "pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    },

    /** Document fingerprints: exact content hash + order/frequency-
      * insensitive token-set hash, row level (the keys the dedup ops
      * group on).
      */
    QueryDef(
      "q69_fingerprint",
      """SELECT doc_id,
        |  substr(md5(text), 1, 16) AS content_fp,
        |  substr(md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split(text,' '), w -> w != ''))), ' ')), 1, 16) AS set_fp
        |FROM documents WHERE doc_id % 5 = 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .where(col("doc_id") % 5 === 0)
        .select(col("doc_id"),
          substring(md5(col("text")), 1, 16).as("content_fp"),
          substring(md5(array_join(array_sort(array_distinct(wordsCol(col("text")))), " ")), 1, 16)
            .as("set_fp"))
        .orderBy("doc_id")
    },

    /** MinHash-LSH near-dup pairs, hand-rolled: shingle → per-band
      * minhash (`array_min` over `xxhash64`) → in-bucket pair
      * enumeration inside each (band, signature) group with the exact
      * sorted-merge Jaccard verify → keep dist <= 0.2. Same
      * candidate→verify shape as MLlib's `approxSimilarityJoin` (the
      * original round-3 motivation — this form measured ~10x faster
      * than MLlib at sf0.1), signature generation stays inside
      * whole-stage codegen, and since round 15 the candidate+verify
      * stage is the q62/q225 carry-payload kernel — no global distinct,
      * no join-backs. Hash values are implementation-defined (xxhash64
      * seeds), so the driver does the rows-only check (no ANSI-SQL
      * oracle exists for a hash family); the ORACLED siblings are
      * q220/q225 (portable-md5 family), which are also the capped,
      * loud-guarded production path — this query is the uncapped
      * xxhash64 parity demonstration of the same pipeline.
      */
    QueryDef.noOracle("q71_minhash_lsh") { (s, d) =>
      // 2-word shingles, not unigrams: this corpus' vocabulary is tiny,
      // so unigram MinHash buckets collide for nearly every pair and the
      // candidate join degenerates quadratic. Shingling is the standard
      // fix — effective vocab is |V|^2, buckets only collide for docs
      // sharing actual word sequences.
      val w = wordsCol(col("text"))
      val shingles = when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1),
          i => array_join(slice(w, i, lit(2)), " ")))
        .otherwise(array(array_join(w, " ")))
      // production pipeline order: exact dedup FIRST (keep-first per
      // content hash), then LSH over the surviving representatives —
      // identical candidate semantics, strictly less quadratic mass.
      val repW = Window.partitionBy(col("h")).orderBy(col("doc_id"))
      // 3 bands × 2 minhash rows: a bucket collision needs BOTH minima
      // of a band to match, so candidate mass drops ~quadratically vs
      // 1-row bands while recall at J>=0.8 stays 1-(1-0.8^2)^3 = 0.95.
      // The permutation index is mixed in as a leading xxhash64 column,
      // so each of the 6 minhashes draws an independent permutation.
      val numBands = 3
      val rowsPerBand = 2
      val sigCols = (0 until numBands).map { b =>
        val rows = (0 until rowsPerBand).map { r =>
          val i = b * rowsPerBand + r
          array_min(transform(col("shingles"), x => xxhash64(lit(i), x)))
        }
        xxhash64(rows: _*).as(s"sig$b")
      }
      SortedIntersectCount.register(s)
      val docs = Tables.documents(s, d)
        .withColumn("h", sha2(col("text"), 256))
        .withColumn("rn", row_number().over(repW))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("source"), array_distinct(shingles).as("shingles"))
      // the verify arm works on sorted 64-bit shingle hashes (sh64):
      // sorted once per row, the exact-Jaccard pair loop is the
      // allocation-free sorted_intersect_count merge instead of
      // array_intersect over string arrays — and the cached build side
      // drops the string payload entirely
      val signed = graft.PlanCache.cached(s, s"lsh_signed|$d") {
        docs.select(
          (Seq(col("doc_id"), col("source"),
            array_sort(transform(col("shingles"), x => xxhash64(lit(-1), x))).as("sh64"))
            ++ sigCols): _*)
      } // reused: both sides of the band join + the verify re-join
      // candidates: ids only through the (band, sig) join — the shingle
      // arrays are re-attached for the verify step, so the wide payload
      // never rides through the exploded band shuffle
      // Candidate generation + verify run INSIDE each (band, sig)
      // bucket (round 15 — the q62/q225 carry-payload rewrite applied
      // to the last banded pipeline still shaped candidates → global
      // dropDuplicates → two candidate-grain join-backs; that shape was
      // q71's 143 s at sf100 and exponent 0.65, the dedup family's
      // worst). Each band row carries its verify payload (sorted sh64
      // plus the full 3-signature vector); pairs enumerate in-bucket
      // with the size-ratio prefilter (J >= 0.8 forces |A|,|B| within
      // 1.25x) applied before the merge, and cross-band dedup emits a
      // pair only at its LOWEST matching band — with no occupancy cap
      // every band "survives", so that is provably the dropDuplicates
      // set. Degenerate-bucket risk is what the 2-shingle vocabulary
      // blow-up and the exact-dedup-first step bound on this pipeline;
      // the CAPPED production path with the loud guard is q220/q225.
      import s.implicits._
      val bandRows = signed.select(col("doc_id"), col("source"),
          array((0 until numBands).map(b => col(s"sig$b")): _*).as("sigs"),
          col("sh64"),
          posexplode(array((0 until numBands).map(b => col(s"sig$b")): _*))
            .as(Seq("band", "sig")))
        .select(col("band"), col("sig"), col("doc_id"), col("source"),
          col("sigs"), col("sh64"))
        .as[(Int, Long, Long, String, Array[Long], Array[Long])]
      val pairDists = bandRows
        .groupByKey(r => (r._1, r._2))
        .flatMapGroups { (gk: (Int, Long),
            it: Iterator[(Int, Long, Long, String, Array[Long], Array[Long])]) =>
          val band = gk._1
          val rows = it.toArray.sortBy(_._3) // ascending doc_id
          // Loud occupancy guard (round 16, VERDICT r15 #8): q71 is the
          // UNCAPPED parity demo — dropping rows would break its
          // global-distinct contract — so an oversized bucket warns
          // (refuses under strict guards) and directs to the capped
          // q220/q225 production path rather than silently running an
          // unbounded O(B²) enumeration on one task.
          if (rows.length > Lsh.MaxBandBucket) {
            val msg = s"q71_minhash_lsh: bucket (band=$band, sig=${gk._2}) " +
              s"holds ${rows.length} docs > MaxBandBucket=" +
              s"${Lsh.MaxBandBucket} — uncapped O(B²) verify on one task; " +
              "use the capped q220/q225 path for this corpus"
            if (graft.GraftSession.strictGuards)
              throw new IllegalStateException(msg)
            graft.GraftSession.routedWarn(msg)
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
          var i = 0
          while (i < rows.length - 1) {
            val (_, _, _, aSrc, aSigs, aw) = rows(i)
            val na = aw.length
            var j = i + 1
            while (j < rows.length) {
              val (_, _, _, _, bSigs, bw) = rows(j)
              val nb = bw.length
              // size-ratio prefilter before anything touches the arrays
              if (na * 4 <= nb * 5 && nb * 4 <= na * 5) {
                var dup = false; var bb = 0
                while (bb < band && !dup) {
                  if (aSigs(bb) == bSigs(bb)) dup = true
                  bb += 1
                }
                if (!dup) {
                  var x = 0; var y = 0; var inter = 0
                  while (x < na && y < nb) {
                    val c = java.lang.Long.compare(aw(x), bw(y))
                    if (c == 0) { inter += 1; x += 1; y += 1 }
                    else if (c < 0) x += 1
                    else y += 1
                  }
                  val dist = 1.0 - inter.toDouble / (na + nb - inter)
                  if (dist <= 0.2) out += ((aSrc, dist))
                }
              }
              j += 1
            }
            i += 1
          }
          out.iterator
        }
      pairDists.toDF("source", "jaccard_dist")
        .groupBy("source")
        .agg(count(lit(1)).as("n_candidate_pairs"),
          r6(min(col("jaccard_dist"))).as("min_dist"))
        .orderBy("source")
    },

    /** Token counting: whitespace tokens + regex (BPE-ish: runs of
      * letters / digits / single other) + a subword estimate
      * (ceil(len/3) per token), per source.
      */
    QueryDef(
      "q70_token_count",
      """SELECT source,
        |  CAST(sum(len(list_filter(string_split(text,' '), w -> w != ''))) AS BIGINT) AS n_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS n_re_tokens,
        |  CAST(sum(list_sum(list_transform(list_filter(string_split(text,' '), w -> w != ''),
        |      w -> CAST(ceil(length(w)/3.0) AS BIGINT)))) AS BIGINT) AS n_subwords
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val words = wordsCol(col("text"))
      Tables.documents(s, d)
        .select(col("source"),
          size(words).cast("long").as("ws"),
          size(regexp_extract_all(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))
            .cast("long").as("re"),
          aggregate(words, lit(0L), (acc, w) => acc + ceil(length(w) / 3.0).cast("long")).as("sw"))
        .groupBy("source")
        .agg(sum(col("ws")).as("n_ws_tokens"),
          sum(col("re")).as("n_re_tokens"),
          sum(col("sw")).as("n_subwords"))
        .orderBy("source")
    },

    /** Positional token explode (`posexplode` — the generator that
      * carries the ordinal, needed whenever downstream features are
      * position-aware): leading trigram of each short document. Oracle
      * uses DuckDB's 1-based list ordinality.
      */
    QueryDef(
      "q129_posexplode_positions",
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos, w AS token
        |FROM (
        |  SELECT doc_id,
        |    unnest(list_transform(list_filter(string_split(text, ' '), x -> x != ''),
        |                          (x, ix) -> {'w': x, 'i': ix}),
        |           recursive := true)
        |  FROM documents WHERE doc_id % 37 = 0) t
        |WHERE i <= 3 ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .where(col("doc_id") % 37 === 0)
        .select(col("doc_id"), posexplode(wordsCol(col("text"))).as(Seq("pos", "token")))
        .where(col("pos") < 3)
        .orderBy("doc_id", "pos")
    },

    /** Cluster-level dedup: LSH band buckets → star edges → CONNECTED
      * COMPONENTS via iterative min-label propagation (the step after
      * q71's pairwise candidates — production dedup keeps one doc per
      * component, not per pair). Edges are linear in corpus size (one
      * star edge per bucket member, never the quadratic within-bucket
      * clique), and each propagation round is one join + one min-agg —
      * the alternating-star formulation this converges to at 100 TB.
      * The portable 60-bit md5 minhash keeps the edge set engine-stable
      * so the oracle can rebuild it and close it with a recursive CTE.
      */
    QueryDef(
      "q135_dedup_components",
      """WITH RECURSIVE
        |toks AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), w -> w != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, md5(unnest(list_transform(generate_series(1, len(ws)-4),
        |         i -> array_to_string(ws[i:i+4], ' ')))) AS h
        |  FROM toks WHERE len(ws) >= 5),
        |mh AS (
        |  SELECT doc_id, b.b AS band,
        |    min(CASE b.b WHEN 1 THEN ('0x' || substr(h, 1, 15))::BIGINT
        |                 ELSE ('0x' || substr(h, 16, 15))::BIGINT END) AS sig
        |  FROM sh, (SELECT unnest([1, 2]) AS b) b
        |  GROUP BY doc_id, b.b),
        |buckets AS (
        |  SELECT band, sig, min(doc_id) AS root FROM mh GROUP BY band, sig),
        |edges AS (
        |  SELECT DISTINCT bk.root AS src, m.doc_id AS dst
        |  FROM mh m JOIN buckets bk ON m.band = bk.band AND m.sig = bk.sig
        |  WHERE m.doc_id != bk.root),
        |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM und
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN und e ON r.dst = e.src),
        |labels AS (
        |  SELECT src AS doc_id, LEAST(src, min(dst)) AS rep FROM reach GROUP BY src)
        |SELECT rep, count(*) AS csize FROM labels
        |GROUP BY rep ORDER BY rep""".stripMargin) { (s, d) =>
      val ws = wordsCol(col("text"))
      // one md5 per 5-gram; the two bands read disjoint 60-bit slices
      // of the same digest (half the hashing of two salted rounds).
      // The hash runs AFTER the positional explode, not inside a
      // transform() lambda — higher-order-function bodies evaluate
      // interpreted, everything below stays in whole-stage codegen.
      val hashed = Tables.documents(s, d)
        .select(col("doc_id"), ws.as("ws"))
        .where(size(col("ws")) >= 5)
        .select(col("doc_id"), col("ws"),
          explode(sequence(lit(1), size(col("ws")) - 4)).as("i"))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("ws"), col("i"), lit(5)))).as("h"))
      // two rows per doc — materialized once; both the bucket roots and
      // the join probe side read it, and without the checkpoint the
      // whole shingle+hash pipeline would run twice
      val mh = hashed
        .groupBy("doc_id")
        .agg(min(conv(substring(col("h"), 1, 15), 16, 10).cast("long")).as("sig1"),
          min(conv(substring(col("h"), 16, 15), 16, 10).cast("long")).as("sig2"))
        .select(col("doc_id"), expr("stack(2, 1, sig1, 2, sig2) AS (band, sig)"))
        .localCheckpoint(true)
      val buckets = mh.groupBy("band", "sig").agg(min(col("doc_id")).as("root"))
      // materialized ONCE at full parallelism — the union below reads it
      // twice, and everything downstream is tiny relative to the corpus
      val edges = mh.join(buckets, Seq("band", "sig"))
        .where(col("doc_id") =!= col("root"))
        .select(col("root").as("src"), col("doc_id").as("dst"))
        .distinct()
        .localCheckpoint(true)
      // the label-propagation frames are one row per bucket member: run
      // the rounds at low parallelism so per-round task-scheduling
      // overhead doesn't dominate
      val und = edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .coalesce(8).localCheckpoint(true)
      // min-label propagation to fixpoint, with POINTER JUMPING: each
      // round takes the min over neighbors' labels, then shortcuts
      // lbl ← lbl(lbl) so chains collapse in O(log diameter) rounds —
      // the number of driver-synchronized rounds, not per-round data
      // volume, is what hurts at scale. Labels only ever DECREASE, so
      // convergence = the global label sum stops falling (one scalar
      // agg per round instead of an old-vs-new join).
      // every round TRUNCATES lineage with an eager localCheckpoint:
      // the next round starts from materialized blocks, so the
      // self-join can never cascade into recomputing earlier rounds
      // (cache substitution is best-effort; checkpoint is a guarantee)
      var labels = und.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")).localCheckpoint(true)
      var prevSum = Long.MaxValue
      // coalesce: SUM over an empty label set is NULL (no candidate
      // pairs at all must yield the oracle's empty result, not an NPE)
      var curSum = labels.agg(coalesce(sum(col("lbl")), lit(0L)))
        .collect()(0).getLong(0)
      while (curSum < prevSum) {
        val prop = und.join(labels, col("src") === col("id"))
          .select(col("dst").as("id"), col("lbl"))
        // checkpointed: the pointer-jump self-join reads it twice
        val next = labels.select(col("id"), col("lbl")).unionAll(prop)
          .groupBy("id").agg(min(col("lbl")).as("lbl"))
          .coalesce(8).localCheckpoint(true)
        // pointer jump: follow the label one hop (labels are node ids)
        val jumped = next
          .join(next.select(col("id").as("jid"), col("lbl").as("jlbl")),
            col("lbl") === col("jid"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl"))
          .coalesce(8).localCheckpoint(true)
        prevSum = curSum
        curSum = jumped.agg(coalesce(sum(col("lbl")), lit(0L)))
          .collect()(0).getLong(0)
        labels = jumped
      }
      val out = labels.groupBy(col("lbl").as("rep"))
        .agg(count(lit(1)).as("csize"))
        .orderBy("rep")
      out
    },

    /** Text normalization / cleaning (group 10 — the C4-style cleanup
      * pass before dedup and tokenization): lowercase, strip everything
      * outside [a-z0-9 ], squeeze whitespace, trim. The md5 of the
      * normalized text makes the oracle compare the cleaning semantics
      * byte-for-byte, not just summary stats.
      */
    QueryDef(
      "q133_text_normalize",
      """SELECT doc_id,
        |  length(norm) AS norm_len,
        |  md5(norm) AS norm_md5
        |FROM (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |                        ' +', ' ', 'g')) AS norm
        |  FROM documents WHERE doc_id % 41 = 0) t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .where(col("doc_id") % 41 === 0)
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
            " +", " ")).as("norm"))
        .select(col("doc_id"), length(col("norm")).as("norm_len"),
          md5(col("norm")).as("norm_md5"))
        .orderBy("doc_id")
    },

    /** Bigram frequency profile (group 10 text analysis — the n-gram
      * statistics pass of a corpus study): adjacent word pairs via an
      * index-sequence transform over the token array (stays inside
      * whole-stage codegen; no self-join, no window), global top-20
      * with a deterministic tie-break.
      */
    QueryDef(
      "q130_bigram_topk",
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        |                               i -> ws[i] || ' ' || ws[i+1])) AS bigram
        |  FROM toks WHERE len(ws) >= 2)
        |SELECT bigram, count(*) AS n FROM grams
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
      val ws = wordsCol(col("text"))
      Tables.documents(s, d)
        .select(ws.as("ws"))
        .where(size(col("ws")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat(element_at(col("ws"), i), lit(" "), element_at(col("ws"), i + 1)))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    }
  )
}
