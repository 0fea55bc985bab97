"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed: the same seed writes the
same files. The stream generator also returns the records it wrote, so the
output checks compare the engine's lines against lines rendered here,
without calling the engine.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = 1704067200000000  # 2024-01-01T00:00:00Z
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])


# --------------------------------------------------------------- streams

def short_host_id(uid):
    """The envelope's ShortHostId for a user id (graft.operators.EnvelopeOps)."""
    return f"10.0.0.{uid % 256}" if uid % 3 == 1 else str(uid)


def go_time(ts_us):
    """Go's time.Time String() at microsecond precision, in UTC."""
    sec, us = divmod(ts_us, 1000000)
    s = datetime.datetime.fromtimestamp(sec, datetime.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    if us:
        s += "." + f"{us:06d}".rstrip("0")
    return s + " +0000 UTC"


def render(rec):
    """The default template `{{.ShortHostId}} {{.Timestamp}} {{.LogEntry}}`."""
    return f"{short_host_id(rec['uid'])} {go_time(rec['ts'])} {rec['props']}"


def shard_counts(n, n_shards, zipf_a):
    """Records per shard, Zipf-shaped so shard 0 runs hot. The counts depend
    on n alone, so every seed gives the same batch structure."""
    w = 1.0 / np.arange(1, n_shards + 1) ** zipf_a
    counts = np.floor(n * w / w.sum()).astype(np.int64)
    counts[: n - counts.sum()] += 1
    return counts


def _records(rng, n, ts0, step_us, n_shards, zipf_a, users_per_shard=16):
    """n records with increasing timestamps. Shard sizes follow
    shard_counts(); within a shard, user ids are Zipf-skewed too. A user id
    routes to shard `uid % n_shards` (Stream.shard_of)."""
    shard = np.repeat(np.arange(n_shards), shard_counts(n, n_shards, zipf_a))
    rng.shuffle(shard)
    uid = shard + n_shards * ((rng.zipf(zipf_a + 0.5, n) - 1) % users_per_shard)
    ts = ts0 + np.arange(n, dtype=np.int64) * step_us + rng.integers(0, step_us, n)
    et = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    val = np.round(rng.uniform(0, 500, n), 2)
    k = rng.integers(0, 100, n)
    return [
        {"eid": i, "ts": int(ts[i]), "uid": int(uid[i]), "type": str(et[i]),
         "value": float(val[i]), "props": f'{{"k": {int(k[i])}, "e": {i}}}'}
        for i in range(n)
    ]


def _line(seq, r):
    return (f"{seq}\t{r['eid']}\t{r['ts']}\t{r['uid']}\t{r['type']}\t{r['value']!r}\t"
            f"{r['props']}\n")


class Stream:
    """A sharded stream directory in the `sharded-events` layout
    (`shard_id=<id>/part-*.txt`, one TSV line per record, per-shard sequence
    numbers), with the records each shard holds."""

    def __init__(self, root, n_shards):
        self.root = root
        self.names = [f"shard-{i:03d}" for i in range(n_shards)]
        self.shards = {s: [] for s in self.names}
        self.next_part = {s: 0 for s in self.names}

    def shard_of(self, r):
        return self.names[r["uid"] % len(self.names)]

    def write(self, recs):
        """Appends recs to their shards as one new part file per shard."""
        by = {}
        for r in recs:
            by.setdefault(self.shard_of(r), []).append(r)
        for s in sorted(by):
            d = os.path.join(self.root, f"shard_id={s}")
            os.makedirs(d, exist_ok=True)
            name = f"part-{self.next_part[s]:06d}.txt"
            self.next_part[s] += 1
            with open(os.path.join(d, name), "w") as f:
                for r in by[s]:
                    r["shard"], r["seq"] = s, len(self.shards[s])
                    self.shards[s].append(r)
                    f.write(_line(r["seq"], r))

    def tail_from(self, start_us):
        """Records the AT_TIMESTAMP seek emits: per shard, from the first
        record with ts >= start_us."""
        out = []
        for s in self.names:
            recs = self.shards[s]
            i = next((j for j, r in enumerate(recs) if r["ts"] >= start_us), len(recs))
            out.extend(recs[i:])
        return out


def drain_stream(root, seed, n_records, n_shards, skip_frac=0.1, zipf_a=1.3):
    """The tail_drain input: one history file per shard. Returns `now`, the
    `-s` duration that skips the oldest skip_frac, and the records due."""
    rng = np.random.default_rng(seed)
    step = 60_000_000 // 16
    recs = _records(rng, n_records, BASE_US, step, n_shards, zipf_a)
    st = Stream(root, n_shards)
    st.write(recs)
    now = BASE_US + n_records * step
    back = int(n_records * step * (1 - skip_frac))
    return now, f"{back}us", st.tail_from(now - back)


# -------------------------------------------------------------- registry

def _write(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path)


def registry_tables(out, seed, sf):
    """The ten registry tables (FIXTURES.md schemas) at scale factor sf,
    as single parquet files under out."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = lambda base: max(1, int(round(base * sf)))
    n_supp, n_cust, n_part = n(10000), n(150000), n(200000)
    n_ord, n_line, n_ev = n(1500000), n(6000000), n(1000000)
    n_doc = max(500, n(50000))
    n_emb = max(500, n(20000))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)

    _write(f"{out}/region.parquet",
           [pa.array(np.arange(5, dtype=np.int32)),
            pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(f"{out}/nation.parquet",
           [pa.array(np.arange(25, dtype=np.int32)), pa.array([f"NATION_{i}" for i in range(25)]),
            pa.array(np.arange(25, dtype=np.int32) % 5)],
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(f"{out}/supplier.parquet",
           [pa.array(np.arange(n_supp)), pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            pa.array(rng.integers(0, 25, n_supp).astype(np.int32)), pa.array(money(-999, 9999, n_supp))],
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out}/customer.parquet",
           [pa.array(np.arange(n_cust)), pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            pa.array(rng.integers(0, 25, n_cust).astype(np.int32)), pa.array(money(-999, 9999, n_cust)),
            pa.array(segs[rng.integers(0, 5, n_cust)])],
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
                      ("c_mktsegment", s)]))
    adj = np.array(["blue", "old", "red", "small", "new", "hot", "large", "cold"])
    noun = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    _write(f"{out}/part.parquet",
           [pa.array(pk),
            pa.array([f"{a} {b}" for a, b in zip(adj[rng.integers(0, 8, n_part)], noun[rng.integers(0, 8, n_part)])]),
            pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            pa.array(types[rng.integers(0, 6, n_part)]),
            pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            pa.array(np.round(900 + (pk % 1000) / 10, 2))],
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
                      ("p_retailprice", f64)]))
    day0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    day_us = 86400 * 1000000
    odate = day0 + rng.integers(0, 2404, n_ord) * day_us
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(f"{out}/orders.parquet",
           [pa.array(np.arange(n_ord)), pa.array(rng.integers(0, n_cust, n_ord)),
            pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            pa.array(money(1000, 500000, n_ord)), pa.array(odate, type=ts_us),
            pa.array(prio[rng.integers(0, 5, n_ord)])],
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
                      ("o_orderdate", ts_us), ("o_orderpriority", s)]))
    lok = rng.integers(0, n_ord, n_line)
    order = np.argsort(lok, kind="stable")
    lok = lok[order]
    first = np.r_[True, lok[1:] != lok[:-1]]
    grp = np.cumsum(first) - 1
    starts = np.flatnonzero(first)
    lnum = (np.arange(n_line) - starts[grp]) % 7 + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(f"{out}/lineitem.parquet",
           [pa.array(lok), pa.array(rng.integers(0, n_part, n_line)), pa.array(rng.integers(0, n_supp, n_line)),
            pa.array(lnum.astype(np.int32)), pa.array(qty),
            pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
            pa.array(rng.integers(0, 11, n_line) / 100.0), pa.array(rng.integers(0, 9, n_line) / 100.0),
            pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            pa.array(odate[lok] + rng.integers(1, 122, n_line) * day_us, type=ts_us)],
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
                      ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                      ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts_us)]))
    n_users = max(16, n(15000))
    span_us = 30 * day_us
    step = span_us // n_ev
    ets = BASE_US + np.arange(n_ev, dtype=np.int64) * step + rng.integers(0, step, n_ev)
    _write(f"{out}/events.parquet",
           [pa.array(np.arange(n_ev)), pa.array(ets, type=ts_us), pa.array(rng.integers(0, n_users, n_ev)),
            pa.array(EVENT_TYPES[rng.integers(0, 5, n_ev)]), pa.array(np.round(rng.uniform(0.01, 490, n_ev), 2)),
            pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])],
           pa.schema([("event_id", i64), ("ts", ts_us), ("user_id", i64), ("event_type", s), ("value", f64),
                      ("props", s)]))
    vocab = np.array("a agg batch big column customer data dup fast filter group hash join key line merge "
                     "order part query row scan slow small sort spark stream table the value vector window".split())
    langs = np.array(["en", "en", "en", "fr", "es", "zh", "de"])
    texts = []
    for i in range(n_doc):
        if i % 5 == 4:  # every fifth document near-duplicates an earlier one
            words = texts[rng.integers(0, i)].split()
            j = rng.integers(0, len(words))
            words[j] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    _write(f"{out}/documents.parquet",
           [pa.array(np.arange(n_doc)), pa.array(texts), pa.array(langs[rng.integers(0, len(langs), n_doc)]),
            pa.array([f"src{i % 20}" for i in range(n_doc)]), pa.array(np.array([len(t) for t in texts]))],
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    cent = rng.normal(size=(10, 64))
    v = cent[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet",
           [pa.array(np.arange(n_emb)), pa.array(list(v), type=pa.list_(pa.float32())), pa.array(labels)],
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
