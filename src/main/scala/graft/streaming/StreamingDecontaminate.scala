package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.llm.Decontaminate

/** Streaming twin of [[graft.llm.Decontaminate]]: a document stream is
  * audited for benchmark n-gram overlap as it arrives, so contaminated
  * crawl batches are flagged at INGEST time instead of in a later
  * corpus-wide sweep. The benchmark set is STATIC (eval suites change
  * by release, not by micro-batch) — its distinct shingle set is the
  * broadcast side of every per-batch join, the stream side never
  * shuffles by shingle, and per-batch state is zero: unlike the
  * corpus-dedup store ([[StreamingCorpusDedup]]), contamination is a
  * pure function of (document, benchmark), so no history store and no
  * idempotence caveat exist — a replayed batch re-emits the same
  * flags.
  *
  * Each micro-batch runs the EXACT batch operator ([[MicroBatch.drain]]
  * over [[Decontaminate.overlapAudit]]) — stream/batch parity by
  * construction, the engine-wide streaming contract. */
object StreamingDecontaminate {

  def run(docs: DataFrame, idCol: String, textCol: String,
          bench: DataFrame, n: Int, minHits: Int,
          checkpointDir: String)(sink: DataFrame => Unit): StreamingQuery =
    MicroBatch.drain(docs, checkpointDir)((batch, _) =>
      sink(Decontaminate.overlapAudit(batch, bench, idCol, textCol,
                                      n, minHits)))
}
