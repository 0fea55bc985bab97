package org.apache.spark

import scala.util.control.NonFatal

import org.apache.spark.storage.BlockId

/** Driver-side probe for the block-manager state the bench harness keys
  * its hygiene on. Lives in `org.apache.spark` because the block-manager
  * master is `private[spark]`; this is the narrowest possible bridge —
  * one read-only count, no mutation.
  *
  * Why it exists (VERDICT r14 ask #2): broadcast blocks outlive
  * `spark.catalog.clearCache()` — the ContextCleaner only reaps a
  * broadcast after the DRIVER GC collects its variable — so a long
  * all-registry bench run accumulates hundreds of dead-but-pinned
  * broadcast blocks, and on rare draws a mid-registry query degrades
  * under that storage pressure (the diagnosed i57 51.8 s-vs-3.4 s
  * scale-gate allow). A forced per-query System.gc() was measured at a
  * uniform ~1.27x cost (worse than the disease); keying the GC on THIS
  * count makes it fire only when pressure is real (~every 100+ queries),
  * costing ~1/50th of the rejected uniform tax.
  */
object GraftBlockProbe {
  /** Number of broadcast blocks currently registered with the driver's
    * block-manager master, or -1 when the probe itself fails. Driver-side
    * metadata read only — does not ask executors for status.
    *
    * FAIL-SOFT (optimization r21): `getMatchingBlockIds` iterates the
    * master endpoint's block map, which the async ContextCleaner mutates
    * concurrently as it reaps exactly the broadcasts this probe is
    * counting — the race surfaces as a ConcurrentModificationException
    * inside the RPC and, unguarded, killed two full bench draws this
    * round AFTER every query had already succeeded (the probe runs in
    * the per-query hygiene block). A hygiene heuristic must never be
    * able to fail the measurement it protects: on any error the caller
    * sees -1, skips the threshold GC for that query, and the next
    * query's probe tries again.
    */
  def broadcastBlockCount(sc: SparkContext): Int =
    try sc.env.blockManager.master
      .getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = false).size
    catch { case NonFatal(_) => -1 }
}
