package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The in-session memo store: each shared corpus intermediate (MinHash
  * signatures, LSH pairs, the trade graph, ANN panels, image tables) is
  * materialized once and every consumer reads that one copy — the
  * paper's "map output materialized once, every reducer reads it". A
  * production pipeline materializes such tables once per corpus snapshot
  * and fans consumers out from them (the in-session analog of
  * [[graft.operators.Dedup.writeSignatureStore]]); recomputing the
  * MinHash pass per consumer multiplies the corpus scan count for no
  * information. Keyed by (session, stage, canonicalized input plan):
  * bit-identical input lineage → the one materialized result. Entries
  * are pair- or signature-sized, never corpus-text-sized.
  *
  * Lifecycle: the store is BOUNDED (insertion-order eviction past
  * [[MaxStoreEntries]] — a driver cycling many corpus snapshots can't
  * grow block storage monotonically; an evicted entry's checkpoint
  * blocks are ContextCleaner-reclaimed once the last consumer drops its
  * frame, because raw localCheckpoint RDDs — unlike CacheManager pins —
  * are cleaner-eligible) plus the application-end listener discipline of
  * [[graft.tables.Tables.load]]. Same caveat as that cache: the key is
  * the PLAN, so a parquet source regenerated IN PLACE during one session
  * would be served the prior file's stored result — the sf test-data dirs
  * are write-once; a live-ingest deployment keys its store on snapshot
  * ids instead.
  */
object Memo {

  final case class Key(spark: SparkSession, stage: String, plan: LogicalPlan)

  // 48 = two test dirs x the 19 stage keys one corpus's memo warmers
  // build (MemoSpec counts them) with headroom — a full suite run stays
  // eviction-free while the bound still stops monotonic growth
  private[graft] val MaxStoreEntries = 48
  private val store = new java.util.LinkedHashMap[Key, DataFrame]()
  // one application-end listener per SparkContext, not per session: it
  // captures only the context, so the sessions an application cycles through
  // newSession() are held by the bounded store alone
  private val hooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkContext]()

  /** `build`, materialized once per (session, `stage`, `input` lineage).
    * A streaming `input` has nothing to checkpoint: `build` is returned
    * as it is.
    */
  def apply(stage: String, input: DataFrame)(build: => DataFrame): DataFrame = {
    if (input.isStreaming) return build
    val spark = input.sparkSession
    val sc = spark.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          store.synchronized {
            store.keySet.removeIf(_.spark.sparkContext eq sc)
            hooked.remove(sc)
          }
      })
    val key = Key(spark, stage, input.queryExecution.analyzed.canonicalized)
    // the build (a Spark job) runs OUTSIDE the lock; a concurrent first
    // call can double-build — idempotent, and the loser's checkpoint
    // blocks are ContextCleaner-reclaimed. (A computeIfAbsent would also
    // be a recursive map update: the "pairs" builder calls
    // minhashSignatures, which memoizes on this same map.)
    store.synchronized {
      val hit = store.get(key)
      if (hit != null) return hit
    }
    val built = build.localCheckpoint(true)
    store.synchronized {
      val prev = store.get(key)
      if (prev != null) prev
      else {
        store.put(key, built)
        if (store.size > MaxStoreEntries) {
          val it = store.entrySet.iterator
          it.next(); it.remove() // eldest inserted; blocks freed by cleaner
        }
        built
      }
    }
  }

  /** Runs `f` and returns the keys of `spark` that it inserted — what a
    * corpus build owns, as opposed to the stored dependencies it merely
    * read. Bench evicts exactly these before a `_build_*` warm re-run.
    */
  def builtBy(spark: SparkSession)(f: => Unit): Set[Key] = {
    val before = keysOf(spark)
    f
    keysOf(spark) -- before
  }

  /** Drops `keys` from the store; their checkpoints are
    * ContextCleaner-reclaimed (see the store doc).
    */
  def evict(keys: Set[Key]): Unit =
    store.synchronized { store.keySet.removeIf(k => keys(k)) }

  private[graft] def keysOf(spark: SparkSession): Set[Key] =
    store.synchronized { store.keySet.asScala.filter(_.spark eq spark).toSet }
}
