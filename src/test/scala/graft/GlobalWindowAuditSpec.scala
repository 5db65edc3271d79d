package graft

import org.scalatest.funsuite.AnyFunSuite

/** Global-window governance sweep (round 10, VERDICT r9 #3) — the
  * single-partition companion of BroadcastAuditSpec.
  *
  * A `Window.orderBy(...)` with no partition spec (or a
  * `partitionBy(lit(1))` / `partitionBy()` global frame) serializes its
  * whole input through ONE task. That is exactly right when the input is
  * bounded by construction (a 10-row decile table, a 512-bucket
  * distribution, a top-k cut, per-partition totals) and a scale killer
  * when the input grain grows with the data (documents, users, parts,
  * vocabulary, batches). Round 10 converted every data-grain site to the
  * two-phase range-partition form ([[graft.operators.TwoPhase]]) or a
  * bounded-heap cut; what remains is classified below.
  *
  * Converted this round (all hash-verified unchanged): q311 HITS
  * normalize (dimension-grain → PlanCache + broadcast 1-row total), q292
  * user-grain ntile (→ two-phase rn + exact bucket arithmetic), q354
  * doc-grain DSIR rank, q313 doc-grain row_number, q139/q301/q355
  * vocabulary-grain rank+cumsum, q343 asset-grain remainder rank (→
  * bounded top-200 heap), q335 batch-grain prefix max (→ two-phase
  * carry-in maxes).
  *
  * DOCUMENTED exceptions (global BY SEMANTICS, each with its named
  * 100 TB drop-in): the exact mid-rank AUC family — q21/q78/q254
  * (RetainOps, Relational) and q365 (Round12Ops) — whose drop-in is the
  * q87 mergeable histogram form, and q333's Spearman mid-ranks
  * (StatsOps:332) whose drop-in is ranking via the same two-phase form
  * with a tie-count correction (values are discrete counts/amounts, so
  * the histogram route applies there too).
  *
  * Everything else runs over BOUNDED grain: day/date grids (TemporalOps
  * q161, RobustOps, InferenceOps survival t-values and day indices),
  * domain/source/stratum/event-type tables (CurriculumOps srcIdx,
  * CorpusOps mixture shares, StatsOps Neyman strata, QualityOps deciles
  * and 512-bucket totals, RobustOps shares, InferenceOps contingency
  * cells and bootstrap replicas, Round12Ops q363's 3-row λ rank), top-k
  * cuts (GraphOps top-20 rank, HybridOps top-100 lists, Multimodal
  * top-200 heap survivors, StatsOps KMV sketch rows), the screened
  * causal pair grid (CausalOps, cap-guarded), and the 16-file manifest
  * window (CurriculumOps).
  *
  * The counts below pin the per-file number of global-window SITES
  * (comment-stripped source, same scanner as the test): adding a new
  * global window anywhere fails this sweep until the site is classified
  * here; removing one fails until the count is updated.
  */
class GlobalWindowAuditSpec extends AnyFunSuite {

  // (direct `Window.orderBy(` sites, `partitionBy(lit(1))`/`partitionBy()` sites)
  private val reviewed: Map[String, (Int, Int)] = Map(
    "CausalOps.scala" -> (1, 1),     // screened pair grid (cap-guarded)
    "CorpusOps.scala" -> (0, 1),     // source-grain mixture shares
    "CurriculumOps.scala" -> (1, 0), // srcIdx domain / 16-file manifest
    "GraphOps.scala" -> (1, 0),      // rank over the top-20 cut
    "HybridOps.scala" -> (4, 0),     // ranks over q261's top-100 cut
                                     // lists and the q280/q410 top-10
                                     // ANN lists (annLists)
    "InferenceOps.scala" -> (4, 1),  // survival t-grid (kmCurve, q277
                                     // and q403), bootstrap reps,
                                     // day index, contingency cells
    "Multimodal.scala" -> (1, 0),    // rank over the top-200 heap cut
    "QualityOps.scala" -> (1, 1),    // decile cum; 512-bucket totals
                                     // (dsirLambda, q318 and q354)
    "Relational.scala" -> (1, 0),    // q21 exact AUC (documented; q87)
    "RetainOps.scala" -> (2, 0),     // q78/q254 exact AUC (documented)
    "RobustOps.scala" -> (1, 1),     // day window; event-type shares
    "Round12Ops.scala" -> (2, 0),    // q363 3-row λ rank; q365 AUC (doc.)
    "Round15Ops.scala" -> (1, 0),    // q378 placebo rank over the
                                     // element-grain RMSPE table
                                     // (guardFullEnum-capped)
    "Round19Ops.scala" -> (4, 0),    // q384/q402 Cox risk suffix
                                     // (coxPass) + q402 risk suffix and
                                     // hazard prefix + q403 lag window,
                                     // all over the horizon-bounded
                                     // unique-time grid (≤ 31 rows)
    "Round20Ops.scala" -> (1, 0),    // q410 cascade survival window
                                     // over the 10-row top-k cut
    "Round21Ops.scala" -> (1, 0),    // lnFact cumulative over the
                                     // cohort-bounded integer grid
                                     // (≤ ~4k rows at any SF slice)
    "Round24Ops.scala" -> (1, 1),    // q438 BH p-rank + m_t count over
                                     // the screened O(P²) pair grid
                                     // (cap-guarded grain, same class
                                     // as the CausalOps pair windows)
    "Round31Ops.scala" -> (1, 1),    // q470 BH p-rank + m_t count over
                                     // the guardFullEnum-capped edge
                                     // grid (same class as q438)
    "StatsOps.scala" -> (5, 2),      // size-grain skyline, Spearman
                                     // (documented), KMV sketch rows,
                                     // Neyman strata ×2; strata totals ×2
    "TemporalOps.scala" -> (1, 0)    // q161 day-grain CUSUM
  )

  test("every global window in src/main is a classified bounded-grain (or documented) site") {
    val orderByPat = java.util.regex.Pattern.compile("Window\\s*\\.\\s*orderBy\\(")
    val globPat = java.util.regex.Pattern.compile(
      "Window\\s*\\.\\s*partitionBy\\(lit\\(1\\)\\)|Window\\s*\\.\\s*partitionBy\\(\\s*\\)")
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = scala.collection.mutable.Map[String, (Int, Int)]()
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val raw = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val src = raw.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
        def count(pat: java.util.regex.Pattern): Int = {
          val m = pat.matcher(src); var n = 0; while (m.find()) n += 1; n
        }
        val c = (count(orderByPat), count(globPat))
        if (c != ((0, 0))) found(p.getFileName.toString) = c
      }
    }
    val diffs = (found.keySet ++ reviewed.keySet).toSeq.sorted.flatMap { f =>
      val got = found.getOrElse(f, (0, 0))
      val exp = reviewed.getOrElse(f, (0, 0))
      if (got != exp) Some(s"$f: found $got, reviewed $exp") else None
    }
    assert(diffs.isEmpty,
      s"global-window sites changed — classify the input grain (bounded / " +
        s"documented / convert to TwoPhase) in GlobalWindowAuditSpec: " +
        s"${diffs.mkString("; ")}")
  }
}
