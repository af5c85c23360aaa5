package graft.streaming

import graft.functions.GramHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming decontamination gate (s17) — the online form of the
  * batch bloom-gated exact 8-gram test (q84): documents arrive as a
  * stream and every exact 8-gram hit against a STATIC eval-split gram
  * set is emitted the moment the document is processed. The firehose
  * shape of RefinedWeb/Dolma-style decontamination: you filter at
  * ingest, not in a nightly batch.
  *
  * Scale design: completely STATELESS — gram hashes are row-local
  * HOFs (the shared [[graft.functions.GramHash]] scheme, so batch and
  * stream provably agree on matches), and the eval set joins as a
  * stream-static broadcast hash join (re-planned per micro-batch, no
  * streaming state store at all) — FENCED like its batch twin q58:
  * the eval side is counted ONCE at stream-build time (it is static),
  * and past [[graft.T.VocabBroadcastCap]] distinct grams the hint
  * ([[graft.T.hintBySize]]) flips to a shuffled hash build instead of
  * OOMing every micro-batch.
  * State held: zero bytes. A keyed
  * per-doc rollup is deliberately NOT done here — hits stream out
  * append-mode at line rate and the consumer aggregates at whatever
  * granularity it wants (the spec rolls up per doc and asserts parity
  * with batch q84's n_hits).
  */
object StreamingDecontaminate {

  /** docs stream (doc_id, text) × static eval gram-hash frame (`h`
    * bigint) → append-mode hit stream (doc_id, h), one row per
    * matched distinct gram. The eval side is deduplicated HERE (not
    * left to the caller): a raw gram frame with the same hash from
    * several eval docs would multiply per-doc hit counts and silently
    * break the q84 parity contract. */
  def apply(docs: DataFrame, evalGrams: DataFrame): DataFrame = {
    val eval = evalGrams.select(col("h")).distinct()
    // The eval side is static, so ONE setup-time count decides the
    // join build for the stream's whole lifetime (same assumption as
    // batch q58's fence: eval sets are benchmarks, but the fence makes
    // the bound enforced rather than assumed).
    val hinted = graft.T.hintBySize(eval.count(), graft.T.VocabBroadcastCap, eval)
    docs
      .select(col("doc_id"),
        GramHash.tokenHashes(split(col("text"), " ")).as("hh"))
      .select(col("doc_id"),
        explode(GramHash.gram8FromTokenHashes(col("hh"))).as("h"))
      .join(hinted, Seq("h"))
      .select(col("doc_id"), col("h"))
  }
}
