package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** One source-bucketed arrival that survived the static-corpus screen:
  * the row shape entering the keyed state of streaming incremental
  * near-dedup (SURVEY §2.D i36's streaming twin). `rks` is the doc's
  * sorted distinct token-hash set — the same sketch the batch engine
  * materializes (LlmOps.hashedTokenSets).
  */
final case class NearArrival(source: String, doc_id: Long, rks: Seq[Long])

/** Keyed state of one source bucket: member sketches seen so far plus
  * the union-find parents of their J ≥ θ graph (the SemDedupStream
  * incremental-pairing scheme applied to token sets).
  */
final case class NearState(members: Seq[(Long, Seq[Long])],
    parents: Seq[(Long, Long)])

/** Current keep set of one source bucket (update-mode emission). */
final case class NearKeeps(source: String, kept: Seq[Long])

/** The STATEFUL suffix of streaming incremental near-dedup — i36 run
  * as an ingest: the static corpus screens each incoming doc via a
  * stream-static anti-join (same-source token-set Jaccard ≥ θ against
  * any corpus sketch ⇒ dropped before state), and WITHIN the stream the
  * canonical choice is keyed state per SOURCE — the near-dup candidate
  * bucket (i2's rule: pairs only form inside a source) — using batch
  * i36's resolve rule: connected components over the J ≥ θ edge graph,
  * keep each component's min id.
  *
  * Arrival-order independence and incremental cost are inherited from
  * the SemDedupStream scheme: the final components depend only on the
  * edge SET, every pair is scored exactly once (at its later member's
  * arrival), and the cached union-find parents make an update
  * O(new · members) set intersections. Jaccard is the same exact
  * integer division the batch verify computes — intersection and sizes
  * of distinct hash sets — so stream and batch agree bit-for-bit on the
  * θ compare. State is ingest-bounded (one sketch per surviving
  * arrival of the source); the `maxStateBytes` guard fails loudly when
  * a bucket outgrows what one key should hold. The cap is BYTE-based
  * (a member carries a full token-hash sketch, KBs per doc), so it
  * trips before the state store's serialized value approaches executor
  * memory — a member-count cap sized for small payloads would OOM
  * first and never fire.
  */
object NearDedupStream {

  private def jaccard(a: Seq[Long], b: Seq[Long]): Double = {
    val sa = a.toSet
    val inter = b.count(sa)
    inter.toDouble / (sa.size + b.size - inter)
  }

  def fold(theta: Double, maxStateBytes: Long = 64L << 20)(key: String,
      rows: Iterator[NearArrival], state: GroupState[NearState]): NearKeeps = {
    val st = state.getOption.getOrElse(NearState(Seq.empty, Seq.empty))
    val uf = new BucketPairs.UnionFind(st.parents)
    val members = BucketPairs.grow(st.members, rows.map(a => a.doc_id -> a.rks))(
        _._1, BucketPairs.sketchBytes, maxStateBytes, s"source '$key'") { (m, o) =>
      if (jaccard(m._2, o._2) >= theta) uf.union(m._1, o._1)
    }
    val ids = members.map(_._1).sorted
    state.update(NearState(members, uf.flatParents(ids)))
    NearKeeps(key, uf.roots(ids))
  }

  /** Works on both a batch Dataset (one fold per source) and a
    * streaming one (update mode, state across micro-batches) — the
    * unified model of SURVEY §2.C applied to incremental near-dedup.
    */
  def apply(arrivals: Dataset[NearArrival], theta: Double): Dataset[NearKeeps] = {
    implicit val stateEnc: Encoder[NearState] = Encoders.product[NearState]
    implicit val outEnc: Encoder[NearKeeps] = Encoders.product[NearKeeps]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    arrivals.groupByKey(_.source)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(fold(theta))
  }
}
