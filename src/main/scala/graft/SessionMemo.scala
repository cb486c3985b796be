package graft

import org.apache.spark.sql.SparkSession

/** Registry of session-scoped derived-frame memos and their eviction
  * contract (the r9 verdict's resident-engine question, answered in
  * code).
  *
  * Two operator families memoize a localCheckpoint'd frame per
  * (session, sf-dir) — the co-occurrence edge frames
  * ([[graft.operators.Graph]]), the CF table
  * ([[graft.operators.Recsys]]) — because every consumer re-deriving
  * them measured seconds per query. [[graft.sources.Tables.read]]
  * memoizes each table's inferred schema per (session, path), so a
  * query's loads run no footer-reading job. In this harness the memo lives for
  * the session and that is correct; a RESIDENT engine needs the other
  * half of the contract: a way to drop them so the corpus can be
  * re-ingested or executor storage reclaimed.
  *
  * Mechanics: each memo site registers an evictor under a stable name
  * at object-initialization (i.e. on the family's first use — an
  * untouched family has nothing memoized and nothing registered).
  * [[evict]] drops every memo entry belonging to the given session.
  * Dropping the map entry releases the last strong reference to the
  * checkpointed DataFrame; Spark's ContextCleaner then frees the
  * checkpoint blocks asynchronously once the object is collected —
  * the standard release path for `localCheckpoint` storage (there is
  * deliberately no synchronous block delete: the r5 measurement that
  * per-query unpersist RPC storms cost more than the storage rent
  * applies to eviction too). The NEXT access after eviction re-derives
  * and re-memoizes from the current table state — which is exactly the
  * refresh semantic a resident engine wants after an ingest.
  *
  * The persisted LSH band index is NOT registered here: it is a
  * durable catalog table holding no executor memory, with its own
  * refresh contract ([[graft.operators.Dedup.persistedBandIndex]] /
  * `refreshBandIndex` / `dropBandIndex`).
  */
object SessionMemo {

  private val evictors = scala.collection.concurrent.TrieMap
    .empty[String, SparkSession => Int]

  /** Register (or replace) the evictor for one memo site. The evictor
    * returns HOW MANY entries it actually dropped (r10 advice: an
    * eviction log that names memos that held nothing overstates what
    * was freed).
    */
  def register(name: String)(f: SparkSession => Int): Unit =
    evictors.put(name, f)

  /** Drop every registered memo's entries for `s` (and, as a hygiene
    * sweep, entries belonging to any STOPPED session — memo maps are
    * keyed by SparkSession, so a session that was never explicitly
    * evicted would otherwise pin its checkpointed frames forever).
    * Returns only the memo names that actually dropped at least one
    * entry (sorted, for deterministic logs).
    */
  def evict(s: SparkSession): Seq[String] =
    evictors.toSeq.sortBy(_._1).collect {
      case (name, f) if f(s) > 0 => name
    }
}
