"""Shared numpy mirror of PipelineOps' IVF routing — the ONE dispatcher
definition for every large-SF oracle (i29 semdedup, i24 embed-near-dup).
Mirrors exactly:
  - scaledK (PipelineOps.scaledK): k = max(8, N // 250);
  - stubCodebook: centroids are the vectors with vec_id < k;
  - assignToCentroids' dispatcher: FLAT round6-dot argmax (min-cid
    tiebreak) below hierRouteMin = 64, TWO-LEVEL at/above it (the
    engine additionally swaps stage 2's PHYSICAL form to a
    gid-partitioned join at k >= 1024 — output bit-identical, proven
    at 2M vectors, so this mirror models the one semantic function)
    (stage 1: top-2 of the g = ceil(sqrt(k)) lowest-cid supers by
    (round6 d desc, sid asc); stage 2: argmax within the union of the
    two routed member groups, members pre-assigned by the flat rule
    with each super pinned to its own group).
Every rounding decision's boundary margin is audited, AND every entry
within RISK of a boundary is recomputed in the ENGINE'S exact summation
order (graft_dot is a strict left-to-right double fold over
float->double products; np.cumsum reproduces it bit-for-bit), so the
MATCH claim does not depend on margins exceeding reorder noise. This
matters from sf100 up: with ~2e8 audited dots the MIN margin
statistically shrinks to ~1e-9 quantum units (~1e-15 absolute) — inside
BLAS-vs-fold reordering noise — so margin auditing alone stops being a
proof there (it still is at sf1, where margins are >=2.7e-6 quantum).
Rounding itself is HALF_UP (round_half_up below), matching Spark's
round(): np.round is half-EVEN, which differs exactly ON a boundary —
the one place a refined knife-edge value can land — so a fold-order
match could still round-flip under np.round (ADVICE r16).
"""
import glob
import os

import numpy as np
import pyarrow.parquet as pq

HIER_ROUTE_MIN = 64

# Entries closer than this to a rounding boundary (in quantum units) are
# recomputed in the engine's sequential fold order. 1e-4 quantum = 1e-10
# absolute at the 1e-6 quantum — four orders above worst-case 64-term
# double reorder noise (~1e-14), and cheap (expected ~4e-4 of entries).
TIE_RISK = 1e-4


def round_half_up(x, decimals):
    """Engine-exact rounding: Spark's round() is HALF_UP (half away from
    zero); np.round is half-even. They agree everywhere except exactly ON
    a .5 boundary at the target quantum — which is exactly where the
    knife-edge refinement can land a value — so every oracle rounding
    goes through this instead of np.round (ADVICE r16). Same scale-then-
    divide float path as np.round, only the half rule differs."""
    q = 10.0 ** decimals
    return np.sign(x) * np.floor(np.abs(x) * q + 0.5) / q


def seq_dot(X, C):
    """Row-paired dots in the ENGINE's order: per row, products in index
    order, then a strict left-to-right double fold (np.cumsum is
    sequential) — bit-identical to graft_dot's while-loop."""
    if X.shape[0] == 0:
        return np.zeros(0)
    return np.cumsum(X * C, axis=1)[:, -1]


def refine_boundary(mat, X, C, quantum=1e-6, label='dots'):
    """Recompute entries of mat (= X @ C.T, BLAS order) lying within
    TIE_RISK of a round-half boundary using the engine's fold order.
    Returns the refined matrix (copy only if needed)."""
    fr = np.abs(((mat / quantum) % 1.0) - 0.5)
    r, c = np.where(fr < TIE_RISK)
    if r.size:
        mat = mat.copy()
        mat[r, c] = seq_dot(X[r], C[c])
        print(f'refined {r.size} knife-edge {label} in engine fold order')
    return mat


def load_embeddings(data_dir):
    """(vec_id, emb) sorted by vec_id, from single-file or directory
    parquet layouts."""
    emb_path = os.path.join(data_dir, 'embeddings.parquet')
    emb_files = sorted(glob.glob(os.path.join(emb_path, '*.parquet'))) \
        if os.path.isdir(emb_path) else [emb_path]
    t = pq.read_table(emb_files)
    vec_id = np.asarray(t['vec_id'])
    emb = np.stack([np.asarray(x, dtype=np.float64)
                    for x in t['embedding'].to_pylist()])
    order = np.argsort(vec_id)
    return vec_id[order], emb[order]


def scaled_k(n):
    return max(8, n // 250)


def _margin(raw):
    """Distance of raw*1e6 from the nearest .5 — how far every value
    sits from a round-half-up boundary at the 1e-6 quantum."""
    return float(np.abs(((raw * 1e6) % 1.0) - 0.5).min()) if raw.size else 1.0


def round6_argmax(mat, ids, label='assign'):
    """(round6 dot, min-id tiebreak) argmax per row + boundary audit —
    the exact assignToCentroidsFlat contract."""
    rd = round_half_up(mat, 6)
    print(f'min {label}-boundary margin (ulp@1e-6):', _margin(mat))
    best = rd.max(axis=1)
    win = ids[np.argmax(rd == best[:, None], axis=1)]
    if rd.shape[1] > 1:
        top2 = np.sort(rd, axis=1)[:, -2]
        print(f'rounded {label} argmax ties:', int((top2 == best).sum()))
    return win


def route(emb, vec_id, k):
    """cid per row under the assignToCentroids dispatcher. Also returns
    (cids, cents) so callers can reuse the codebook."""
    cmask = vec_id < k
    cents = emb[cmask]
    cids = vec_id[cmask]
    n = emb.shape[0]
    if k < HIER_ROUTE_MIN:
        mat = refine_boundary(emb @ cents.T, emb, cents, label='flat dots')
        return round6_argmax(mat, cids), cids, cents
    g = int(np.ceil(np.sqrt(k)))
    print('two-level routing: g =', g)
    smask = cids < g
    sups = cents[smask]
    sids = cids[smask]
    # codebook grouping: each centroid -> nearest super (flat rule),
    # EXCEPT a super is pinned to its own group (a routed-to group must
    # never be member-empty — mirrors assignToCentroids).
    cgrp = round6_argmax(
        refine_boundary(cents @ sups.T, cents, sups, label='grouping dots'),
        sids, label='grouping')
    cgrp = np.where(cids < g, cids, cgrp)
    # stage 1: TOP-2 supers per row — sort by (round6 d desc, sid asc);
    # stable argsort of -rd breaks ties by ascending column index, and
    # columns are sid-ascending, so the tie-break matches the engine's
    # (-d, gid) struct sort exactly.
    rds = refine_boundary(emb @ sups.T, emb, sups, label='stage1 dots')
    print('min stage1-boundary margin (ulp@1e-6):', _margin(rds))
    srt = np.argsort(-round_half_up(rds, 6), axis=1, kind='stable')
    g1 = sids[srt[:, 0]]
    g2 = sids[srt[:, 1]] if g > 1 else g1
    # stage 2: argmax within the UNION of the two routed groups,
    # vectorized per distinct (g1, g2) pair (<= g^2 pairs). The stage-2
    # dots get the same boundary audit + knife-edge refinement as
    # stage 1 (ADVICE r15 / r16): the min margin across every (g1, g2)
    # group is printed below, and any entry inside TIE_RISK is
    # recomputed in the engine's fold order before rounding, so no
    # rounding decision depends on summation order at ANY margin.
    cid = np.zeros(n, dtype=np.int64)
    stage2_margin = 1.0
    refined2 = 0
    for a, b in set(zip(g1.tolist(), g2.tolist())):
        rows = np.where((g1 == a) & (g2 == b))[0]
        midx = np.where((cgrp == a) | (cgrp == b))[0]
        raw = emb[rows] @ cents[midx].T
        stage2_margin = min(stage2_margin, _margin(raw))
        fr = np.abs(((raw * 1e6) % 1.0) - 0.5)
        rr, cc = np.where(fr < TIE_RISK)
        if rr.size:
            raw[rr, cc] = seq_dot(emb[rows][rr], cents[midx][cc])
            refined2 += int(rr.size)
        gd = round_half_up(raw, 6)
        cid[rows] = cids[midx][np.argmax(gd == gd.max(axis=1)[:, None], axis=1)]
    print('min stage2-boundary margin (ulp@1e-6):', stage2_margin)
    if refined2:
        print(f'refined {refined2} knife-edge stage2 dots in engine fold order')
    return cid, cids, cents
