package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The bounded-collect STRUCTURAL INVARIANT (r10, verdict item 3; r11
  * hardened to PER-SITE anchors, verdict item 4): every `.collect()` /
  * `.head()` / `.collectAsList()` in the operator library is a driver-side
  * action, and each one is individually sound TODAY only because the frame
  * it materializes is bounded — 1-row scalar aggregates, the 1024-bucket
  * histogram grid, |sources|- / |types|²- / k-row frames, the mBits/64
  * bloom word table. This sweep keeps the class structurally sound the way
  * BroadcastInventorySpec keeps forced broadcasts sound: each site is
  * enrolled under its ANCHOR — `File.scala:<nearest preceding def/val
  * name>` — with a boundedness rationale, so adding a driver action
  * anywhere in operators/streaming requires re-stating here, in review,
  * why the collected frame cannot be corpus-proportional. Per-site keys
  * close the r10 counting gap: adding an action while removing another in
  * the same file can no longer hide inside an unchanged per-file total —
  * the new site surfaces under a key the inventory has never seen (and
  * renaming the holder val re-opens review, which is the point). (A
  * source-scan, not reflection: the sites must be found even on code paths
  * no fixture exercises — conf-gated branches, degenerate-input guards.)
  *
  * Companion gate: zero literal `repartition(n)` widths (verdict item 5) —
  * partition counts follow `numShufflePartitions` or key columns, never a
  * constant that silently under-parallelizes a 1000-executor cluster.
  */
class CollectInventorySpec extends AnyFunSuite {

  private val roots = Seq(
    "src/main/scala/graft/operators", "src/main/scala/graft/streaming")

  private def sourceFiles: Seq[java.nio.file.Path] = roots.flatMap { r =>
    Files.list(Paths.get(r)).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
  }.sortBy(_.getFileName.toString)

  /** code lines only — strip line comments and scaladoc continuation lines
    * so prose mentioning collect() never counts as a site */
  private def codeLines(p: java.nio.file.Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq
      .map(_.trim).filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/*"))

  private val action = java.util.regex.Pattern.compile(
    "\\.collect\\(\\)|\\.head\\(\\)|\\.collectAsList\\(")
  private val anchorPat = java.util.regex.Pattern.compile(
    "\\b(?:def|val)\\s+([A-Za-z_][A-Za-z0-9_]*)")

  /** Per-site extraction: each action line is keyed by the nearest
    * preceding (or same-line) `def`/`val` name — for the 1-row-scalar
    * idiom (`val x = df.agg(...).head()`) that is the holder val itself,
    * the tightest anchor a source scan can give without a parser. */
  private[graft] def siteAnchors(lines: Seq[String]): Map[String, Int] = {
    var anchor = "<top>"
    val counts = scala.collection.mutable.Map.empty[String, Int]
    for (l <- lines) {
      val am = anchorPat.matcher(l)
      var last: String = null
      while (am.find()) last = am.group(1)
      if (last != null) anchor = last
      val m = action.matcher(l)
      var c = 0
      while (m.find()) c += 1
      if (c > 0) counts(anchor) = counts.getOrElse(anchor, 0) + c
    }
    counts.toMap
  }

  /** "File.scala:anchor" -> (site count at that anchor, boundedness
    * rationale). */
  private val inventory: Map[String, (Int, String)] = Map(
    // FrameworkQueries — statistics-gate audit rows
    "FrameworkQueries.scala:r" -> (2, "1-row scalar aggregates: the statistics gate's count/countDistinct audit rows"),
    // QueriesAnn
    "QueriesAnn.scala:w" -> (1, "IVF cell histogram: k=16-bounded cell list"),
    "QueriesAnn.scala:seedIds" -> (1, "k-row exemplar seed id list"),
    "QueriesAnn.scala:seedRow" -> (1, "1-row query-vector probe"),
    "QueriesAnn.scala:far" -> (1, "1-row farthest-point probe"),
    // QueriesCorpus
    "QueriesCorpus.scala:cutsRow" -> (1, "x50's 1-row equi-depth cut vector (nb+1 doubles)"),
    "QueriesCorpus.scala:counts" -> (1, "k-bucket quintile count map"),
    "QueriesCorpus.scala:stats" -> (1, "1-row min/max/count scalars"),
    "QueriesCorpus.scala:hist" -> (1, "x104's 1024-bucket histogram grid map"),
    "QueriesCorpus.scala:maxUs" -> (1, "1-row max-timestamp scalar"),
    "QueriesCorpus.scala:maxId" -> (1, "1-row max-event-id scalar"),
    "QueriesCorpus.scala:m" -> (1, "x146's |types|²-bounded transition matrix"),
    "QueriesCorpus.scala:g" -> (1, "x150's 1-row budget/weight totals"),
    "QueriesCorpus.scala:interior" -> (1, "x152's |sources|-row interior run stats"),
    "QueriesCorpus.scala:border" -> (1, "x152's ≤2·buckets border-run rows"),
    "QueriesCorpus.scala:nd" -> (1, "x152's |sources|-row doc counts"),
    // QueriesDedup
    "QueriesDedup.scala:maxDf" -> (1, "1-row max-df scalar"),
    "QueriesDedup.scala:nClustered" -> (1, "1-row clustered-doc mass scalar"),
    "QueriesDedup.scala:wedges" -> (1, "1-row wedge-count scalar"),
    "QueriesDedup.scala:nDelta" -> (1, "1-row delta shingle NDV scalar"),
    // QueriesGovernance
    "QueriesGovernance.scala:rows" -> (1, "x117's BigInt finisher over the |sources|-bounded moments frame"),
    // QueriesRelational
    "QueriesRelational.scala:est" -> (1, "x131 estimator: k-th order statistic of the 1/64 sample"),
    "QueriesRelational.scala:ranks" -> (1, "x131's 1-row true-rank sums (q19's selection path is fully in-plan — zero driver actions)"),
    // QueriesShared
    "QueriesShared.scala:words" -> (1, "bloom word table: mBits/64 longs"),
    "QueriesShared.scala:stats" -> (1, "kthSmallestByHistogram's 1-row min/max scalars"),
    "QueriesShared.scala:hist" -> (1, "kthSmallestByHistogram's 1024-bucket grid map"),
    "QueriesShared.scala:below" -> (1, "kthSmallestByHistogram's 1-row residual-rank max"),
    // QueriesText — the x58 corpus-stats pattern: 1-row totals pinned as literals
    "QueriesText.scala:summary" -> (1, "vocab-bounded Misra-Gries summary row"),
    "QueriesText.scala:st" -> (3, "x151's per-split 1-row (N, sum dl) stat rows + bm25 dl stats (one holder name, three call shapes)"),
    "QueriesText.scala:nTot" -> (1, "1-row token total"),
    // (x160's fullRow scalar is gone: the full-model xent now rides the
    // plan as a broadcast 1-row frame, enrolled in BroadcastInventorySpec)
    "QueriesText.scala:dupRow" -> (1, "1-row duplicate-mass scalar"),
    "QueriesText.scala:n" -> (1, "1-row corpus count scalar"),
    "QueriesText.scala:wTot" -> (1, "1-row weight total"),
    "QueriesText.scala:row" -> (1, "x137/x148 1-row fold scalar"),
    "QueriesText.scala:lastSyms" -> (1, "BPE: |vocab|-bounded final symbol table"),
    "QueriesText.scala:dc" -> (2, "NB class stats: 1-row per fold x2"),
    "QueriesText.scala:vocabV" -> (1, "vocab-capped NB vocabulary list"),
    "QueriesText.scala:tots" -> (1, "CV wide totals: 1 row"),
    "QueriesText.scala:dcRows" -> (1, "|folds|-row CV priors"),
    "QueriesText.scala:r" -> (1, "1-row PMI total"),
    "QueriesText.scala:x153Vocab" -> (1, "1-row dual vocab-size scalar (both ablation arms from one agg; shared ablationArms core)"),
    "QueriesText.scala:x167Vocab" -> (1, "x167: 1-row four-tier vocab scalars from one token-keyed agg"),
    "QueriesText.scala:x167Tok" -> (1, "x167: 1-row four-tier train token totals"),
    "QueriesText.scala:x167Fit" -> (1, "x167: 1-row fit inputs (n_bigrams + four xent rationals) for the driver-side BigInt OLS"),
    "QueriesText.scala:x175St" -> (1, "x175/qs41: 1-row NB class-total scalars"),
    "QueriesText.scala:x175Dc" -> (1, "x175/qs41: 1-row train doc-count scalars"),
    "QueriesText.scala:x175Model" -> (1, "x175/qs41: the frozen NB model — train-bucket-VOCAB-sized (language-bounded, sublinear in corpus), the artifact a deployment ships to serving"),
    // RankSum
    "RankSum.scala:gl" -> (1, "1-row global (N, ties) scalars"),
    "RankSum.scala:rows" -> (1, "|sources|-bounded per-source frame for the BigInt finisher"),
    "QueriesText.scala:x161Bench" -> (1, "x161: the benchmark's three distinct n-gram hash sets, bounded by the EVAL SET (constant in corpus scale), not the corpus"),
    "QueriesCorpus.scala:x172Bench" -> (1, "x172: the benchmark's distinct-shingle hash set, 1 row — bounded by the EVAL SET (constant in corpus scale), not the corpus"),
    // StreamQueries — post-drain audit scalars over bounded state tables
    "StreamQueries.scala:nCal" -> (1, "qs27: 1-row calibration count over the ppm-grid state"),
    "StreamQueries.scala:r" -> (1, "qs27: 1-row threshold scalar"),
    "StreamQueries.scala:drained" -> (1, "qs29: 1-row streamed index-stats row"),
    "StreamQueries.scala:batch" -> (1, "qs29: 1-row batch index-stats row"),
    "StreamQueries.scala:cents" -> (1, "qs30: the frozen k=16-row IVF centroid manifest (production reads the stored index artifact)"),
    "StreamQueries.scala:qs37Cents" -> (1, "qs37: the same frozen k=16-row IVF centroid manifest, collected for the map-side assignment literal"),
    "StreamQueries.scala:benchArr" -> (1, "qs32: the benchmark's distinct-shingle set, 1 row — bounded by the EVAL SET (constant in corpus scale), not the corpus"),
    "StreamQueries.scala:base" -> (1, "qs18: drift histogram bins (bounded grid)"),
    "StreamQueries.scala:summary" -> (1, "qs25: k-entry Misra-Gries summary map"))

  test("collect inventory: every driver-side action site is enrolled per-anchor with a boundedness rationale") {
    val found: Map[String, Int] = sourceFiles.flatMap { p =>
      siteAnchors(codeLines(p)).map { case (a, n) => s"${p.getFileName}:$a" -> n }
    }.toMap
    val unenrolled = found.keys.filterNot(inventory.contains).toSeq.sorted
    assert(unenrolled.isEmpty,
      s"driver-action sites appeared at anchors the inventory has never reviewed: " +
        unenrolled.map(k => s"$k(${found(k)})").mkString(", "))
    val drifted = (inventory.keySet ++ found.keySet).toSeq.sorted.flatMap { k =>
      val exp = inventory.get(k).map(_._1).getOrElse(0)
      val got = found.getOrElse(k, 0)
      if (exp != got) Some(s"$k: $got sites (enrolled $exp)") else None
    }
    assert(drifted.isEmpty,
      "driver-action sites drifted — re-review boundedness and update the inventory: " +
        drifted.mkString("; "))
  }

  test("the per-site keying actually catches a same-file swap (the r10 counting gap)") {
    // synthetic file: two defs, one action each — per-FILE count is 2
    val before = Seq(
      "def alpha(df: DataFrame) = {",
      "val a = df.agg(max(col(\"x\"))).head()",
      "}",
      "def beta(df: DataFrame) = {",
      "val b = df.limit(5).collect()",
      "}")
    // the swap: beta loses its action, alpha gains a second one under a
    // NEW holder val — per-file count is still 2, so the r10 sweep would
    // have passed without review; the per-site map must differ
    val after = Seq(
      "def alpha(df: DataFrame) = {",
      "val a = df.agg(max(col(\"x\"))).head()",
      "val sneaky = df.collect()",
      "}",
      "def beta(df: DataFrame) = {",
      "val b = df.limit(5)",
      "}")
    assert(siteAnchors(before).values.sum === siteAnchors(after).values.sum,
      "mutation must keep the per-file total unchanged for the proof to mean anything")
    assert(siteAnchors(before) !== siteAnchors(after),
      "per-site anchors failed to distinguish an added-plus-removed swap")
    assert(siteAnchors(after).contains("sneaky"),
      "the added site must surface under its own unreviewed anchor")
  }

  test("no literal repartition width survives in operator code") {
    val literal = java.util.regex.Pattern.compile("\\.repartition\\(\\s*\\d")
    val hits = sourceFiles.flatMap { p =>
      codeLines(p).zipWithIndex.collect {
        case (l, i) if literal.matcher(l).find() => s"${p.getFileName}:${i + 1}: $l"
      }
    }
    assert(hits.isEmpty,
      s"hard-coded repartition widths (use numShufflePartitions or a key column): " +
        hits.mkString("; "))
  }
}
