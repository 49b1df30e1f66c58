package graft.tools

import graft.operators.Queries

/** Dev harness relating each scale-path variant to its exact baseline at
  * every scale factor:
  *   - x3 vs x2: full-row EQUALITY. The LSH candidates are exactly
  *     re-verified, so the output contract is "the exact near-dup set" —
  *     equality here is what justifies giving x3 the x2 oracle SQL.
  *   - x7/x14 vs x6: neighbor-set RECALL. The ANN variants intentionally
  *     search a restricted candidate set (bucket / probed lists), so ranks
  *     and tail neighbors legitimately differ; their correctness gate is
  *     their own full-algorithm DuckDB oracle, and this harness just tracks
  *     how much of the true top-k the restriction preserves.
  */
object EqCheck {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("graft-eqcheck")
    for (sf <- args) {
      // x3 vs x2: exact row equality
      val a = Queries.byName("x3_minhash_lsh").run(spark, sf).collect().map(_.toSeq).toSet
      val e = Queries.byName("x2_ngram_jaccard").run(spark, sf).collect().map(_.toSeq).toSet
      val verdict = if (a == e) "EQUAL" else s"DIFF missing=${(e -- a).size} spurious=${(a -- e).size}"
      println(s"[eqcheck] $sf x3_minhash_lsh vs x2_ngram_jaccard: $verdict (${a.size} vs ${e.size} rows)")
      // x7/x14 vs x6: (query_id, vec_id) neighbor-set recall
      val truth = Queries.byName("x6_ann_bruteforce").run(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for (ann <- Seq("x7_ann_lsh", "x14_ann_ivf", "x29_quantized_rerank")) {
        val got = Queries.byName(ann).run(spark, sf).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val hit = got.count(truth.contains)
        println(f"[eqcheck] $sf $ann recall vs x6: $hit/${truth.size} (${hit.toDouble / truth.size}%.2f)")
      }
    }
    spark.stop()
  }
}
