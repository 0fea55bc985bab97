package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** One source-bucketed arrival entering the streaming truth-pair
  * maintainer (the truth artifact's streaming twin — LlmOps.pairStats /
  * pairStatsIngest). Same sketch row as NearArrival; a separate case
  * class keeps the two states schema-independent.
  */
final case class TruthArrival(source: String, doc_id: Long, rks: Seq[Long])

/** Keyed state: member sketches of one source bucket seen so far. */
final case class TruthMembers(members: Seq[(Long, Seq[Long])])

/** The new WITHIN-STREAM truth pairs formed by this micro-batch in one
  * source bucket, with the exact (inter, un) stats the persisted table
  * carries. Keys normalize to (min, max) — the pairStatsIngest rule.
  */
final case class TruthNewPairs(source: String,
    pairs: Seq[(Long, Long, Long, Long)])

/** Streaming maintenance of the exact-pair TRUTH table (SURVEY §2's
  * persisted-truth artifact, r15): each arriving doc is scored once —
  * at its own arrival — against every prior member of its source
  * bucket, emitting the θ pairs it forms; accumulated across
  * micro-batches (plus the stateless per-batch stream-static pairs
  * against the persisted corpus sketches, which need no state) the
  * emitted set IS pairStatsIngest(corpus, batch) — StreamingSpec pins
  * the equality under a shuffled feed, so the truth table a nightly
  * batch build produces and the one a continuous tailer maintains are
  * the same artifact. The compare is the batch verify's exact integer
  * cross-multiplication (inter·10 ≥ un·θ) on the same xxhash64 sets —
  * bit-for-bit agreement, no float. State is one sketch per arrival,
  * byte-capped like NearDedupStream (fails loudly, never silently
  * degrades).
  */
object TruthPairStream {

  def fold(thetaTenths: Int, maxStateBytes: Long = 64L << 20)(key: String,
      rows: Iterator[TruthArrival],
      state: GroupState[TruthMembers]): TruthNewPairs = {
    val st = state.getOption.getOrElse(TruthMembers(Seq.empty))
    val out = Seq.newBuilder[(Long, Long, Long, Long)]
    val members = BucketPairs.grow(st.members, rows.map(a => a.doc_id -> a.rks))(
        _._1, BucketPairs.sketchBytes, maxStateBytes, s"source '$key'") { (m, o) =>
      val sa = o._2.toSet
      val inter = m._2.count(sa).toLong
      val un = sa.size + m._2.size - inter
      if (inter * 10 >= un * thetaTenths)
        out += ((math.min(m._1, o._1), math.max(m._1, o._1), inter, un))
    }
    state.update(TruthMembers(members))
    TruthNewPairs(key, out.result())
  }

  def apply(arrivals: Dataset[TruthArrival],
      thetaTenths: Int): Dataset[TruthNewPairs] = {
    implicit val stateEnc: Encoder[TruthMembers] = Encoders.product[TruthMembers]
    implicit val outEnc: Encoder[TruthNewPairs] = Encoders.product[TruthNewPairs]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    arrivals.groupByKey(_.source)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(fold(thetaTenths))
  }
}
