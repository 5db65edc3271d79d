package graft

import org.scalatest.funsuite.AnyFunSuite

/** Forced-broadcast governance sweep (round 10, VERDICT r9 #1).
  *
  * An explicit `broadcast()` hint overrides AQE's measured size check, so
  * it is only ever safe on inputs whose cardinality is BOUNDED BY
  * CONSTRUCTION — a 1-row total, a top-k/TopKPerGroup cut, a literal
  * value table, a fixed dimension (region/nation), a sketch (≤ k·groups
  * rows), or a domain-grain aggregate over a generator-fixed key set. A
  * hint on anything that grows with the data (a degree table, a
  * vocabulary, a user set, a batch index) is a latent scale killer: fine
  * at sf0.1, fatal at the 100 TB design point — exactly the q364 `deg`
  * finding this sweep exists to fence.
  *
  * Mechanism: grep-driven, as specified by the verdict. Every
  * `broadcast(<ident>` site in src/main (comments stripped) must appear
  * in the reviewed table below, keyed by (file, first identifier inside
  * the call). Adding a new forced broadcast fails this spec until the
  * site is reviewed and its grain class recorded here; removing one
  * fails until the stale entry is dropped, so the table cannot rot.
  *
  * Grain legend used below:
  *  - 1row    — a global aggregate (totals, counts, fitted scalars)
  *  - lit     — a literal/Seq.toDF value table (taus, salts, lags …)
  *  - topk    — a bounded top-k / TopKPerGroup / limit cut
  *  - sketch  — k-bounded sketch rows (KMV, MG candidates, CM cells)
  *  - domain  — generator-fixed key set (sources, event types, hosts,
  *              brands, channels, folds, strata, bins, quantiles)
  *  - model   — O(model)/O(K) driver-held state (weights, centroids,
  *              codebooks, screened pair set — each with its own cap)
  *
  * Sites REMOVED by the round-10 sweep (now plain joins, AQE decides):
  * q364 deg (node-grain), q105 nm (part-name-grain), q114 idf and q176
  * uni (vocabulary-grain), q293 assign (user-grain), q335 pm
  * (batch-grain), q301 voc lookups (vocabulary-grain), q165 orders/cust
  * key sets and q336 delOrders (fact/SF-grain).
  */
class BroadcastAuditSpec extends AnyFunSuite {

  private val reviewed: Map[String, Set[String]] = Map(
    "AnalyticsOps.scala" -> Set("outdeg", "pr"), // host-graph (domain)
    "CausalOps.scala" -> Set("kk", "lags", "periods"), // lit
    "CcmOps.scala" -> Set("sm"), // model: screen-capped survivor series
    "CointOps.scala" -> Set("lags", "sm"), // lit; model
    "CorpusOps.scala" -> Set("chk", "dd", "fit", "tot"), // lit; 1row ×3
    "CurriculumOps.scala" -> Set("offsets", "srcIdx", "taus", "vsize"),
    // ^ O(partitions) offsets; domain; lit; 1row
    "DriftOps.scala" -> Set("bins10", "dc", "gl", "qh", "qs"),
    // ^ lit; domain (decile/boundary tables); 1row
    "Extensions.scala" -> Set("Seq", "recallQueries"), // lit; topk
    "GraphOps.scala" -> Set("chDf", "full", "scen", "tot"),
    // ^ lit channels; 1row; lit scenarios; 1row
    "HybridOps.scala" -> Set("cArr", "g", "ig", "nn", "probes", "qdf", "st"),
    // ^ model (the centroid matrices — q477's K=64 and semAssign's
    //   label-grain table — sc.broadcast into typed kernels, both
    //   bounded by construction); 1row ×2; topk; lit probes; topk
    //   queries; 1row. The old broadcast(cents) join-hint site is gone
    //   (round 12: the fold argmax became the typed kernel).
    "InferenceOps.scala" -> Set("a", "arms", "b", "band", "base", "gs", "h",
      "iw", "m", "na", "nt", "nv", "qsv", "reps", "rng", "salts"),
    // ^ 1row aggregates (incl. q303's 1-row CI band) and lit
    //   replica/salt/quantile tables throughout
    // model centroids (q65's label-grain matrix + its norms —
    // sc.broadcast into the round-14 typed assign kernel, the
    // q477/semAssign shape); lit range. The old broadcast(cents)
    // join-hint site is gone (round 14: the fold argmax became the
    // typed kernel).
    "LLMPipeline.scala" -> Set("cArr", "cNorms", "s"),
    "Multimodal.scala" -> Set("tot", "leftDf"), // 1row ×2
    "PipelineMore.scala" -> Set("n"), // 1row
    "PrivacyOps.scala" -> Set("widths"), // lit
    "QualityOps.scala" -> Set("lam", "vv", "neDf"), // domain (512
    // buckets); 1row ×2
    "Relational.scala" -> Set("Tables"), // fixed dims (region/nation)
    "RelationalExt.scala" -> Set("Tables", "thr"), // fixed dims; 1row
    "RelationalMore.scala" -> Set("anchor"), // topk (keyset anchor row)
    "RetainOps.scala" -> Set("Retain", "w", "w0"), // model weights
    "RobustOps.scala" -> Set("m", "mad"), // 1row ×2
    "Round12Ops.scala" -> Set("est", "kmv", "lm", "sel", "t", "theta", "tot"),
    // ^ sketch pair estimates; sketch; lit; domain (source); 1row;
    //   sketch thetas; domain (source)
    "Round13Ops.scala" -> Set("params", "p2", "scal"),
    // ^ 1row ×3: the q369 EM parameter vector (both iterations) and the
    //   q370 corpus-scalar (bigram-count, discount-mass) row
    "Round15Ops.scala" -> Set("dpiv", "hs", "lam", "mu", "nel", "nrm",
      "par", "rg", "tr", "v"),
    // ^ q378 donor pivot + fitted params (element-grain, guardFullEnum-
    //   capped → model); hs lit bandwidths; q379 1-row λ/norm/trace,
    //   64-row dim-grain mean + iterate vectors (schema-fixed → domain);
    //   nel 1row; rg the 1024-entry literal JL sign grid (lit)
    "Round16Ops.scala" -> Set("ag", "b1", "b2", "fz", "gm", "n1",
      "nt", "p2", "p2r", "po0", "po1", "prev", "ui2"),
    // ^ all 1-row fitted-parameter / scalar tables (Cox β and U/I rows,
    //   IRLS parameter rows, outcome-model coefficient rows, rank-sum
    //   and moment totals, GT corpus scalars) except gm — the 5-row
    //   priority-domain moment table (domain)
    "Round17Ops.scala" -> Set("at", "nel", "p", "prev", "tot", "z"),
    // ^ 1-row aggregates (stratified ATE, Theil totals, IRLS/BT
    //   normalization scalars) and the element-grain BT strength vector
    //   (guardFullEnum-capped -> model); q395's p2 broadcast dropped when
    //   its fitted params became driver literals (commit 243b750)
    "Round18Ops.scala" -> Set("armB", "gg", "hi", "lo", "mxDi", "xk"),
    // ^ 1-row tables throughout: the arm-B summary row, the global
    //   sensitive distribution, winsorization/threshold order-statistic
    //   anchors, the global max-day scalar
    "Round19Ops.scala" -> Set("b2", "bDf", "taus", "ui0", "ui1"),
    // ^ 1-row Cox beta / score rows (coxPass, coxFit) and the 2-row
    //   literal tau table
    "Round20Ops.scala" -> Set("kk", "pe", "st", "tot"),
    // ^ 3-row literal k grid; 1-row P_e / corpus-stats / panel totals
    "Round22Ops.scala" -> Set("p2", "pg", "prev", "ym"),
    // ^ element-grain GLM parameter rows (O(P)), the 3-row period/fpp
    //   grids, and the O(P) per-element mean/variance row
    "Round23Ops.scala" -> Set("segs", "sm", "per", "tot", "lagT", "st", "den",
      "b1", "b2", "tt", "t1", "p1", "gm", "mo", "prev", "th"),
    "Round24Ops.scala" -> Set("st", "cn", "md", "offs", "ks"),
    // ^ O(P) element-grain stat/total/median rows, the 14-row horizon
    //   offset grid, and the 1-row BH k* threshold
    "Round25Ops.scala" -> Set("tau", "st", "den", "lg", "lag4", "bart", "sd", "gm"),
    "Round26Ops.scala" -> Set("sh", "ob", "st", "nb", "ca", "tot", "qs", "pos"),
    "Round27Ops.scala" -> Set("els", "hrs", "rate", "tg", "wg", "st"),
    // ^ the O(P) element list / rate rows, literal hour/scale/window
    //   grids, and the O(P) mean row
    "Round28Ops.scala" -> Set("tot", "nv", "wm", "sc", "prev", "stot", "gl",
      "drift", "leak"),
    "Round29Ops.scala" -> Set("vv", "tr", "wm", "wm0", "anchor"),
    // ^ the 1-row train vocabulary size, O(P) trend/weekday-mean/
    //   anchor rows
    "Round30Ops.scala" -> Set("lg"),
    // ^ the 8-row lag grid
    "Round31Ops.scala" -> Set("ks", "cut"),
    // ^ the 1-row BH k* threshold and the O(P) order-statistic cuts
    // ^ O(P)/O(label) stat rows, the O(P·7) weekday means, O(P²) IRLS
    //   parameter rows, bounded split/type share grids, 1-row totals
    // ^ the 30-row shift grid, O(P²) observed-r / burst-count rows,
    //   O(P) transition totals, the 1-row grand total, and the O(1)
    //   16-query vector set + its positive-margin row
    // ^ literal tau/lag grids, O(P) element-grain stat rows, and the
    //   O(P²) pair-grain Bartlett-sum / bandwidth / grand-mean rows
    //   (screened pair grain, same class as Round23's gm)
    // ^ literal segment/period/lag/threshold grids, O(P) element-grain
    //   stat and GLM/GMM parameter rows, O(P) changepoint anchors, and
    //   the O(P²) pair-grain grand-mean row — all grid-bounded
    "Round21Ops.scala" -> Set("lfl", "po", "pri", "qq", "s2", "st", "tie"),
    // ^ the 1-list lnFact row, 1-row p_obs / prior / Q-terms / rank-sum
    //   / moment / tie-total tables — all O(1) or cohort-bounded
    "SearchOps.scala" -> Set("e", "hits", "pct", "st"), // topk (vec_id<8
    // query rows); 1row; 1row; 1row
    "SeriesOps.scala" -> Set("Seq", "c0", "lags", "m", "mu", "se", "tp", "xs"),
    // ^ lit; 1row; lit; 1row; 1row; 1row; domain (element); model series
    "StatsOps.scala" -> Set("cellsR", "e2", "e3", "front", "nd", "rowsJ",
      "ti", "tu", "uest"),
    // ^ sketch cells; host-graph edges (domain, q159) ×2; domain sizes;
    //   domain types; lit; 1row ×3
    "SupervisedOps.scala" -> Set("cg", "gg"), // model: O(features²) Gram
    "TemporalOps.scala" -> Set("cuts", "mu", "peak", "sweep"),
    // ^ lit; 1row; 1row; lit
    "TextIndexOps.scala" -> Set("bt", "cands", "nt"), // 1row; sketch (MG
    // candidates, ≤ k·partitions); 1row
    "Sources.scala" -> Set("dim"), // fixed dimension
    "Streaming.scala" -> Set("dim", "qs") // fixed dimension; domain
  )

  test("every forced broadcast() in src/main is a reviewed bounded-grain input") {
    val pat = java.util.regex.Pattern.compile("broadcast\\(\\s*([A-Za-z0-9_]+)")
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = scala.collection.mutable.Map[String, Set[String]]()
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val raw = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val src = raw.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
        val m = pat.matcher(src)
        var ids = Set.empty[String]
        while (m.find()) ids += m.group(1)
        if (ids.nonEmpty)
          found(p.getFileName.toString) =
            found.getOrElse(p.getFileName.toString, Set.empty) ++ ids
      }
    }
    val unreviewed = found.toSeq.flatMap { case (f, ids) =>
      (ids -- reviewed.getOrElse(f, Set.empty)).map(i => s"$f:broadcast($i")
    }.sorted
    assert(unreviewed.isEmpty,
      s"forced broadcast() sites not in the reviewed bounded-grain table " +
        s"(classify the input's grain in BroadcastAuditSpec or drop the " +
        s"hint and let AQE size it): ${unreviewed.mkString(", ")}")
    val stale = reviewed.toSeq.flatMap { case (f, ids) =>
      (ids -- found.getOrElse(f, Set.empty)).map(i => s"$f:broadcast($i")
    }.sorted
    assert(stale.isEmpty,
      s"stale entries in the reviewed table (site no longer exists — drop " +
        s"them so the table stays exact): ${stale.mkString(", ")}")
  }
}
