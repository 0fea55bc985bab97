package graft.streaming

import scala.collection.mutable

/** The keyed-state pair loop shared by the streaming dedup twins
  * (NearDedupStream, SemDedupStream, TruthPairStream): each arrival is
  * scored once — at its own arrival — against every earlier member of
  * its bucket, so every unordered member pair is examined exactly once
  * over the stream's lifetime and an update costs O(new · members), not
  * the bucket's full quadratic history.
  */
private[streaming] object BucketPairs {

  /** Approximate serialized footprint of one token-sketch member. */
  def sketchBytes(m: (Long, Seq[Long])): Long = 16L + 8L * m._2.length

  /** Grows `members` by the rows of `arrivals` not seen yet, calling
    * `score(fresh, earlier)` for each fresh row against every member
    * before it. Fresh rows are deduped and taken in id order, so the
    * within-batch order is deterministic. Fails loudly once the grown
    * bucket's approximate bytes pass `maxStateBytes`; `bucket` names it
    * in the message.
    */
  def grow[M](members: Seq[M], arrivals: Iterator[M])(id: M => Long,
      bytes: M => Long, maxStateBytes: Long, bucket: String)(
      score: (M, M) => Unit): Seq[M] = {
    val seen = members.map(id).toSet
    val fresh = arrivals.filterNot(m => seen(id(m))).toSeq.distinctBy(id).sortBy(id)
    var grown = members
    fresh.foreach { m =>
      grown.foreach(score(m, _))
      grown = grown :+ m
    }
    val stateBytes = grown.iterator.map(bytes).sum
    require(stateBytes <= maxStateBytes,
      s"$bucket accumulated ${grown.size} members / ~$stateBytes state " +
        s"bytes (cap $maxStateBytes): bound the ingest window or flush state " +
        "to the batch path")
    grown
  }

  /** Union-find over member ids, seeded with a bucket's persisted
    * parents. A union points the larger root at the smaller, so each
    * component's root is its min id — the keep rule.
    */
  final class UnionFind(parents: Seq[(Long, Long)]) {
    private val parent = mutable.Map(parents: _*)

    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }

    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }

    /** The parents to persist for the sorted `ids`, path-compressed so
      * the stored chains stay flat.
      */
    def flatParents(ids: Seq[Long]): Seq[(Long, Long)] = {
      ids.foreach(find)
      ids.filter(parent.contains).map(id => id -> find(id))
    }

    /** The component roots among `ids`: the ids to keep. */
    def roots(ids: Seq[Long]): Seq[Long] = ids.filter(id => find(id) == id)
  }
}
