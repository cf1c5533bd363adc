package graft

import org.apache.spark.sql.functions._

/** Scaling probe for BPE merge learning: per-merge amortized cost of
  * each formulation, BY MERGE RANK, as the DISTINCT-WORD vocabulary
  * grows (table replication cannot show this — it grows counts, not the
  * vocabulary, and the iteration loop runs on the distinct-word table).
  *
  * Three formulations (module doc on [[graft.operators.Bpe]]):
  *  - `rescan`     — sequential full rescan (one merge per corpus-wide
  *                   pair recount);
  *  - `increment`  — sequential incremental pair-count maintenance
  *                   (topM = 1);
  *  - `batched`    — the production path: top-M candidate collection
  *                   with sequential-equivalent batch admission
  *                   (topM = 64), on the size-dispatched formulation.
  *
  * What to expect, and what the recorded PERFORMANCE.md table shows:
  * every formulation REWRITES the loop-carried state once per scan, so
  * per-SCAN cost has an O(V) floor — sequential per-merge cost GROWS
  * with V for both sequential formulations (incremental only wins over
  * rescan past V ≈ 10⁶–10⁷, where recounting all pairs costs more than
  * maintaining deltas). Batching is the lever that beats the floor:
  * K merges share one state rewrite, dividing the per-merge amortized
  * cost by the admitted batch size. Rank matters because early merges
  * genuinely touch a large fraction of the vocabulary and admit small
  * batches; at a production tokenizer's 32k merges virtually every scan
  * is high-rank, where batches are wide and affected-word sets tiny.
  *
  * Corpus: one synthetic word per row, `translate(id % V, digits →
  * letters)` — deterministic, no RNG, vocabulary size exactly V with
  * word length growing ~log₁₀(V) like a natural vocabulary.
  * Usage: `runMain graft.BpeStress [numMerges] [vocabSizes,...]`.
  */
object BpeStress {
  def main(args: Array[String]): Unit = {
    val numMerges = args.headOption.map(_.toInt).getOrElse(192)
    val sizes = (if (args.length > 1) args(1) else "1000000,10000000")
      .split(",").map(_.trim.toLong).toSeq
    val spark = GraftSession.build()
    import graft.operators.{Bpe, CacheRegistry}

    // uniform: every word appears exactly 3× — digit symmetry makes the
    // pair counts massively TIED, the worst case for batch admission
    // (sequential semantics genuinely interleave tied families, so the
    // guard must keep batches narrow — widths are semantics, not waste)
    def corpus(v: Long) = spark.range(3 * v)
      .select(translate(col("id").mod(v).cast("string"),
        "0123456789", "abcdefghij").as("text"))
    // varied: 3 uniform passes + 3 hash-scattered passes break the tie
    // symmetry (real corpora are tie-sparse); same V distinct words
    def corpusVaried(v: Long) = spark.range(6 * v)
      .select(translate(
        when(col("id") < 3 * v, col("id").mod(v))
          .otherwise((col("id") * 2654435761L).mod(v)).cast("string"),
        "0123456789", "abcdefghij").as("text"))

    // rank buckets: median per-merge amortized seconds inside each —
    // medians, not means, because the box has real run-to-run GC/CPU
    // variance (batched scans report scan time / admitted batch size)
    val buckets = Seq((1, 8), (9, 32), (33, 96), (97, numMerges))
      .filter { case (lo, _) => lo <= numMerges }
    def bucketed(times: Array[Double]): String =
      buckets.map { case (lo, hi) =>
        val xs = times.slice(lo - 1, math.min(hi, times.length))
          .filter(_ > 0).sorted
        if (xs.isEmpty) f"${s"$lo-$hi"}%9s:    -  "
        else f"${s"$lo-$hi"}%9s:${xs(xs.length / 2)}%6.2f s"
      }.mkString("  ")

    // throwaway compile/JIT warm-up of all three paths
    val warm = corpus(sizes.head / 10 max 1000)
    Bpe.learnMergesWith(warm, "text", 4, topM = 64, incremental = true)
    CacheRegistry.drain()
    Bpe.learnMergesFullRescan(warm, "text", 4)
    CacheRegistry.drain()

    println(s"[bpe-stress] median per-merge amortized seconds by " +
      s"merge-rank bucket ($numMerges merges)")
    for ((tag, mk) <- Seq(
        ("uniform", corpus _), ("varied ", corpusVaried _));
        v <- sizes) {
      val tf = new Array[Double](numMerges)
      Bpe.learnMergesFullRescan(mk(v), "text", numMerges,
        onIter = (k, s) => tf(k - 1) = s)
      CacheRegistry.drain()
      val ti = new Array[Double](numMerges)
      Bpe.learnMergesWith(mk(v), "text", numMerges, topM = 1,
        incremental = true, onIter = (k, s) => ti(k - 1) = s)
      CacheRegistry.drain()
      val tb = new Array[Double](numMerges)
      var scans = 0 // exact state-rewrite count via the per-scan hook
      Bpe.learnMergesTimed(mk(v), "text", numMerges, 32,
        (k, s) => tb(k - 1) = s, onScan = _ => scans += 1)
      CacheRegistry.drain()
      println(f"[bpe-stress] $tag V=$v%10d  rescan     ${bucketed(tf)}")
      println(f"[bpe-stress] $tag V=$v%10d  increment  ${bucketed(ti)}")
      println(f"[bpe-stress] $tag V=$v%10d  batched    ${bucketed(tb)}" +
        f"  ($numMerges merges in $scans scans)")
    }
    spark.stop()
  }
}
