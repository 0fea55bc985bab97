package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** One cluster-routed arrival that survived the static-corpus screen:
  * the row shape entering the keyed state of the streaming semantic
  * dedup (SURVEY §2.D i29's incremental twin).
  */
final case class SemArrival(cid: Long, vec_id: Long, embedding: Seq[Float])

/** Keyed state of one IVF cluster: the arrivals seen so far PLUS the
  * union-find parent pointers of their ≥ θ similarity graph — caching
  * the resolved components means an update only scores new-member ×
  * existing-member pairs, never the full accumulated quadratic.
  */
final case class SemState(members: Seq[SemArrival], parents: Seq[(Long, Long)])

/** Current keep set of one cluster (update-mode emission). */
final case class SemKeeps(cid: Long, kept: Seq[Long])

/** The STATEFUL suffix of streaming semantic dedup — the i29 shape run
  * as an ingest: the static corpus (with its materialized assignment)
  * screens each incoming vector via a stream-static anti-join on the
  * shared cluster id (cosine ≥ θ against any corpus member of the same
  * cluster ⇒ dropped before state), and WITHIN the stream the canonical
  * choice is keyed state per cluster using the SAME rule as batch i29:
  * connected components over the ≥ θ edge graph, keep each component's
  * min id. (A greedy keep-vs-kept-only fold would diverge from the
  * batch semantics on transitive chains — sim(1,2) ≥ θ, sim(2,3) ≥ θ,
  * sim(1,3) < θ keeps {1} under the component rule but {1,3} under
  * greedy.)
  *
  * Arrival-order independence (the CuratedDedup rule — a first-arrival
  * rule would be order-dependent after a shuffle): the final components
  * depend only on the ≥ θ edge SET over the accumulated membership, and
  * every member pair is scored exactly once — when its later member
  * arrives — so the union-find reaches the same partition for ANY
  * arrival order or batching (asserted against an independent
  * union-find model in StreamingSpec). The state caches the resolved
  * parent pointers (path-compressed before persisting), so an update
  * costs O(new · members) dot products, NOT the full O(members²)
  * recomputation over the cluster's history.
  *
  * Cost honesty at scale: state is cluster-bounded — one
  * (vec_id, embedding) per surviving arrival — and a semantically-hot
  * cluster still runs its new×existing scoring on the one executor that
  * owns the key; the batch path spreads the same quadratic term over
  * salt buckets (saltedSelfPairs), which a keyed state store cannot do.
  * The incremental pairing bounds the per-UPDATE cost; the
  * `maxStateBytes` guard fails loudly (rather than degrading silently)
  * when a cluster's accumulated state outgrows what one key should
  * hold. The cap is BYTE-based, not member-count-based: a member here
  * carries a full embedding (hundreds of bytes), so a count cap high
  * enough for small payloads would let one key accumulate hundreds of
  * MB of serialized state and OOM the state store before ever
  * tripping. 64 MiB default — well past any sane per-key state, well
  * before executor memory exhaustion; production ingests should bound
  * the window (timeout policy or periodic state flush to the batch
  * path) long before that point.
  */
object SemDedupStream {

  private def round3(x: Double): Double =
    BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def dot(a: Seq[Float], b: Seq[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length && i < b.length) {
      s += a(i).toDouble * b(i).toDouble; i += 1
    }
    s
  }


  /** Approximate serialized footprint of one member: the float payload
    * plus per-row id/length overhead.
    */
  private[streaming] def memberBytes(a: SemArrival): Long =
    16L + 4L * a.embedding.length

  def fold(theta: Double, maxStateBytes: Long = 64L << 20)(key: Long,
      rows: Iterator[SemArrival], state: GroupState[SemState]): SemKeeps = {
    val st = state.getOption.getOrElse(SemState(Seq.empty, Seq.empty))
    val uf = new BucketPairs.UnionFind(st.parents)
    val members = BucketPairs.grow(st.members, rows)(_.vec_id, memberBytes,
        maxStateBytes, s"cluster $key") { (m, o) =>
      if (round3(dot(m.embedding, o.embedding)) >= theta) uf.union(m.vec_id, o.vec_id)
    }
    val ids = members.map(_.vec_id).sorted
    state.update(SemState(members, uf.flatParents(ids)))
    SemKeeps(key, uf.roots(ids))
  }

  /** Works on both a batch Dataset (one fold per cluster) and a
    * streaming one (update mode, state across micro-batches) — the
    * unified model of SURVEY §2.C applied to semantic dedup.
    */
  def apply(arrivals: Dataset[SemArrival], theta: Double): Dataset[SemKeeps] = {
    implicit val stateEnc: Encoder[SemState] = Encoders.product[SemState]
    implicit val outEnc: Encoder[SemKeeps] = Encoders.product[SemKeeps]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    arrivals.groupByKey(_.cid)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(fold(theta))
  }
}
