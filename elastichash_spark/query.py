"""Two-stage query engine: block-max WAND prefilter + exact BM25 rescore.

Structural transposition of the reference's two-stage retrieval
(``/root/reference/dh/app/templates/es_query.7.x.json``):

- **Stage 1 (coarse, recall-guaranteed)** — ElasticHash filters candidates via
  a ``terms`` lookup into the precomputed ``nbs`` neighbors index (64-bit
  multi-index-hashing prefilter; ``es_query.7.x.json:56-103``). Here the
  precomputed pruning structure is the per-block **max BM25 impact** written
  at build time: WAND/BMW skips every docID region whose upper-bound score
  (sum of term/block max impacts) cannot reach the current top-k threshold.
  Like the MIH pigeonhole guarantee (slides p.7-8), pruning is *safe*: block
  max >= any member impact, so no true top-k doc is ever discarded — but
  unlike the reference's filter (which loses ~0.1-2.5 mAP), it is lossless.
- **Stage 2 (exact rerank)** — ElasticHash rescores survivors with the exact
  256-bit Hamming script ``hd64`` (``dh/tools/add_hdist.py:18-22``). Here
  survivors are scored with exact float64 BM25 from the decoded (tf, doclen)
  postings, accumulated in ascending termID order — bit-compatible with the
  brute-force oracle.
- **Top-k merge** — per-shard heaps then a global merge, exactly ES's
  per-shard top-k + coordinator merge (3-shard setup, ``import_csv.py:31``),
  expressed as per-partition kernels + a global window under the pinned total
  order (score DESC, docID ASC).

Query distribution: the query set is tiny relative to the corpus (the
reference sweeps 10k queries over 7M docs), so queries are collected and
broadcast into the posting-scan kernel; postings are read with a pushed-down
``termID IN (...)`` filter so only the query terms' blocks leave the parquet
scan, then shuffled once by shard so each doc's full term set is co-located
(a doc's exact score must be assembled in one task).
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec, scoring
from .build import POSTINGS_SCHEMA, load_index
from .tokenize import (
    TF_EXPLODED_SCHEMA,
    tf_explode_kernel,
    tokenize_py,
    tokens_expr,
)

RESULT_SCHEMA = "qid long, docID long, score double"
_INF = np.iinfo(np.int64).max


def _topk_vec(scores: np.ndarray, docids: np.ndarray, k: int) -> list[tuple[float, int]]:
    """Vectorized top-k under the pinned total order (score DESC, docID ASC),
    dropping score-0 docs."""
    sel = scores > 0.0
    scores, docids = scores[sel], docids[sel]
    if scores.size == 0:
        return []
    if scores.size > k:
        # O(n) pre-cut; keep every doc tied with the k-th score (the docID
        # tie-break may need them)
        kth = -np.partition(-scores, k - 1)[k - 1]
        keep = np.flatnonzero(scores >= kth)
        scores, docids = scores[keep], docids[keep]
    order = np.lexsort((docids, -scores))[:k]
    return [(float(scores[i]), int(docids[i])) for i in order]


def _sparse_max(bmax: np.ndarray) -> np.ndarray:
    """Sparse table over block maxima: st[l, i] = max(bmax[i : i + 2^l]).
    Built once per (shard, term) and cached; gives O(1) vectorized range-max
    queries for the stage-1 cross-term bounds."""
    n = bmax.size
    levels = int(np.frexp(n)[1])  # floor(log2(n)) + 1 for n >= 1
    st = np.full((max(levels, 1), n), -np.inf)
    st[0] = bmax
    w = 1
    for lvl in range(1, levels):
        span = n - 2 * w + 1
        if span > 0:
            st[lvl, :span] = np.maximum(st[lvl - 1, :span], st[lvl - 1, w: w + span])
        w *= 2
    return st


def _range_max(st: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Vectorized max(bmax[lo_i : hi_i]) per element; 0.0 for empty ranges
    (an i-block no j-block intersects gets no contribution from j at all)."""
    out = np.zeros(lo.size)
    width = hi - lo
    m = width > 0
    if not m.any():
        return out
    lvl = np.frexp(width[m].astype(np.float64))[1] - 1  # floor(log2(width))
    half = np.left_shift(1, lvl)
    out[m] = np.maximum(st[lvl, lo[m]], st[lvl, hi[m] - half])
    return out


# below this many shard postings a term is decoded whole in stage 0: the
# decode is cheaper than staged bookkeeping, and its full docID list upgrades
# every other term's cross-term pruning bound from a block-span range-max to
# an EXACT per-block maximum (sparse lists have wide block spans that poison
# range bounds — 4 postings can span an eighth of the docID space)
_SMALL_TERM = 1024

# filtered search: sentinel termID carrying each shard's allow-set (sorted
# docIDs of docs passing the filter predicate), unioned with the postings
# BEFORE the shard repartition so membership data and postings co-locate in
# the same task — no broadcast of a corpus-sized structure (ES filter-context
# analogue: the filter restricts the result set, scoring statistics stay
# corpus-wide, es_query.7.x.json's bool filter clause)
_ALLOW_TERM = -1
_ALLOW_CHUNK = 1 << 16  # docIDs per sentinel row (512 KiB blobs)

# mining path: sentinel termID carrying a (query, shard) work order — the
# query's resolved (termID, idf) plan packed as int64+float64 bytes
_QINFO_TERM = -2

_STRATEGIES = ("wand", "exact")


def _check_strategy(strategy: str) -> None:
    """Validate ``strategy`` on the driver, before any Spark job: an unknown
    name fails at the call, not inside a Python worker at collect time."""
    if strategy not in _STRATEGIES:
        raise ValueError(
            f"unknown strategy {strategy!r}: expected one of {_STRATEGIES}")


def _allow_member(allow: np.ndarray, doc: np.ndarray) -> np.ndarray:
    """Boolean membership of each (sorted or not) docID in the sorted allow
    array. side='left' searchsorted puts an exact match AT its index, so the
    equality probe needs no upper-bound guard beyond the clip."""
    if allow.size == 0:
        return np.zeros(doc.size, dtype=bool)
    idx = np.minimum(np.searchsorted(allow, doc), allow.size - 1)
    return allow[idx] == doc


def _bulk_gather(pairs):
    """Decode the missing blocks of many (term, block-set) requests in ONE
    codec pass — the per-call fixed cost of the varbyte decode (~15 numpy
    dispatches) is paid once per (query, shard) instead of once per term.
    Caches idf-free (docIDs, tf_part) per block (see _BlockTerm.gather);
    the per-query term weight multiplies in at gather() return, so the
    result is bit-identical to a per-term decode-with-idf."""
    blobs, ns, owners = [], [], []
    for t, bis in pairs:
        if (t.term_id, -1) in t._cache:
            continue  # gather() slices from the cached full decode
        for b in bis:
            b = int(b)
            if (t.term_id, b) not in t._cache:
                blobs.append(t.blobs[b])
                ns.append(int(t.n[b]))
                owners.append((t, b))
    if blobs:
        nsa = np.asarray(ns, dtype=np.int64)
        doc, tf, dl, starts = codec.decode_runs_concat(blobs, nsa)
        tfp = scoring.tf_part_np(tf, dl, owners[0][0].avgdl)
        for j, (t, b) in enumerate(owners):
            s, e = int(starts[j]), int(starts[j + 1])
            d_, c_ = doc[s:e], tfp[s:e]
            if t.allow is not None:
                keep = _allow_member(t.allow, d_)
                d_, c_ = d_[keep], c_[keep]
            t._cache[(t.term_id, b)] = (d_, c_)
    return [t.gather(bis) for t, bis in pairs]


def _segment_max(dj: np.ndarray, cj: np.ndarray, first: np.ndarray,
                 last: np.ndarray) -> np.ndarray:
    """Exact per-block cross-term bound from a FULLY decoded term: for each
    block range [first_b, last_b] of another term, the maximum contribution
    among this term's postings falling inside it (exactly 0.0 where none
    do). Block ranges are disjoint and ascending, so the windows into the
    sorted posting array are disjoint and a single np.maximum.reduceat over
    interleaved [lo, hi) boundaries evaluates every non-empty window."""
    out = np.zeros(first.size)
    if cj.size == 0:
        return out
    lo = np.searchsorted(dj, first, side="left")
    hi = np.searchsorted(dj, last, side="right")
    m = hi > lo
    if not m.any():
        return out
    bounds = np.empty(2 * int(m.sum()), dtype=np.int64)
    bounds[0::2] = lo[m]
    bounds[1::2] = hi[m]
    if bounds[-1] == cj.size:  # reduceat boundaries must be < len
        vals = np.maximum.reduceat(cj, bounds[:-1])
    else:
        vals = np.maximum.reduceat(cj, bounds)
    out[m] = vals[0::2]
    return out


class _BlockTerm:
    """One query term's block metadata + lazy decode cache within a shard.

    Decodes are per-BLOCK and lazy: the WAND path touches only the blocks the
    pruning bound or the candidate set require, and each decoded block's
    (docIDs, contributions) pair is cached in the shard-shared cache so
    queries with overlapping terms never decode a block twice."""

    __slots__ = ("term_id", "idf", "first", "last", "n", "bmax", "blobs",
                 "ub", "avgdl", "allow", "scale", "_cache")

    def __init__(self, term_id, idf, first, last, n, bmax, blobs, avgdl, cache=None,
                 allow=None, scale=1.0, ub=None):
        self.term_id = term_id
        self.idf = idf
        self.first = first
        self.last = last
        self.n = n
        self.bmax = bmax
        self.blobs = blobs
        self.avgdl = avgdl
        # ub may be precomputed by a caller that shares one term pack across
        # many queries (search_mining) — bmax.max() per construction would
        # otherwise repeat identical O(blocks) work per (query, term)
        self.ub = float(bmax.max()) if ub is None else float(ub)
        # filtered search: sorted allowed-docID array (None = unfiltered).
        # Disallowed docs are masked AT THE DECODE BOUNDARY, so the whole
        # pruning machinery transparently operates on the filtered
        # sub-corpus: thresholds/partial sums see only allowed postings
        # (valid lower bounds there), while block metadata (bmax, first/last,
        # n) stays a superset upper bound — pruning remains lossless, merely
        # less tight. Per-doc filtering is consistent across terms (a doc's
        # postings are all kept or all dropped), so cross-term bounds from
        # filtered small-term lists stay exact for allowed candidates.
        self.allow = allow
        # factor already multiplied into bmax relative to the stored block
        # maxima (query boost, or idf under safe_bounds) — keys the sparse
        # range-max cache so differently-scaled queries never share a table
        self.scale = scale
        # cache is shared per shard: queries with overlapping terms reuse decodes
        self._cache = cache if cache is not None else {}

    def gather(self, bis: np.ndarray):
        """(docIDs, contributions) concatenated over the given block indices
        (ascending). Uncached blocks are bulk-decoded in ONE codec pass
        (varbyte streams are self-terminating, so their blobs concatenate),
        then cached per block. If a full decode is already cached (the exact
        strategy ran this term in this shard), blocks are sliced from it —
        no re-decode.

        The cache stores idf-FREE (docIDs, tf_part) pairs; this term's
        query-time weight (idf, including any per-query boost) multiplies in
        at return. Queries sharing a term but carrying different boosts
        therefore share decodes without poisoning each other's scores, and
        the float values are bit-identical to baking idf in at decode time
        (elementwise w * tf_part either way)."""
        full = self._cache.get((self.term_id, -1))
        if full is not None:
            doc, tfp, rs = full
            parts = [(doc[rs[int(b)]: rs[int(b) + 1]],
                      tfp[rs[int(b)]: rs[int(b) + 1]]) for b in bis]
        else:
            missing = [int(b) for b in bis if (self.term_id, int(b)) not in self._cache]
            if missing:
                ns = self.n[missing]
                doc, tf, dl, starts = codec.decode_runs_concat(
                    [self.blobs[b] for b in missing], ns
                )
                tfp = scoring.tf_part_np(tf, dl, self.avgdl)
                for j, b in enumerate(missing):
                    s, e = starts[j], starts[j + 1]
                    d_, c_ = doc[s:e], tfp[s:e]
                    if self.allow is not None:
                        keep = _allow_member(self.allow, d_)
                        d_, c_ = d_[keep], c_[keep]
                    self._cache[(self.term_id, b)] = (d_, c_)
            parts = [self._cache[(self.term_id, int(b))] for b in bis]
        if len(parts) == 1:
            d, c = parts[0]
            return d, self.idf * c
        return (
            np.concatenate([p[0] for p in parts]),
            self.idf * np.concatenate([p[1] for p in parts]),
        )

    def sparse(self) -> np.ndarray:
        """Range-max sparse table over this term's block maxima — built once
        per (shard, term, bound-scale), shared across the query batch via the
        cache. The scale is part of the key: a boosted query's table holds
        boost-scaled maxima and must not serve a query with a different
        boost (bounds would be under- or over-scaled — lossy or loose)."""
        key = (self.term_id, "st", self.scale)
        got = self._cache.get(key)
        if got is None:
            got = _sparse_max(self.bmax)
            self._cache[key] = got
        return got

    def decode_full(self):
        """All of this term's shard postings in one vectorized decode —
        computed ONCE per (shard, term) and reused by every query in the
        batch. This is the EXACT strategy's primitive (decode-everything is
        its definition); the WAND path uses :meth:`gather` instead."""
        key = (self.term_id, -1)
        got = self._cache.get(key)
        if got is None:
            doc, tf, dl, run_starts = codec.decode_runs_concat(self.blobs, self.n)
            tfp = scoring.tf_part_np(tf, dl, self.avgdl)
            if self.allow is not None:
                keep = _allow_member(self.allow, doc)
                # per-block slice offsets must track the filtered layout so
                # gather()'s full-decode slicing stays block-consistent
                # (every index block has n >= 1, so run_starts[:-1] are
                # strictly valid reduceat boundaries)
                kept_per_run = np.add.reduceat(
                    keep.astype(np.int64), run_starts[:-1]
                )
                run_starts = np.concatenate(
                    [np.zeros(1, dtype=np.int64), np.cumsum(kept_per_run)]
                )
                doc, tfp = doc[keep], tfp[keep]
            # cached idf-free (see gather): boosted queries share the decode
            got = (doc, tfp, run_starts)
            self._cache[key] = got
        doc, tfp, run_starts = got
        return doc, self.idf * tfp, run_starts


def _bmw_shard(
    terms: list[_BlockTerm], k: int, counter: dict | None = None,
    small_cutoff: int = _SMALL_TERM, msm: int = 1,
) -> list[tuple[float, int]]:
    """Vectorized two-stage retrieval over one (query, shard) — blocks are
    decoded LAZILY; pruned blocks that contain no candidate are never
    touched, which is the entire economic point of the coarse filter.

    Stage 0 (threshold bootstrap): every term contributes an impact-ordered
    sample (~k postings; small terms decode whole), batched into ONE codec
    call; per-doc partial sums over the samples — rigorous lower bounds,
    accumulated in rescore order — seed both the numeric threshold theta and
    the lexicographic (score, docID) tie threshold.

    Stage 1 (block-max prefilter — the coarse filter): a block of term i can
    contain a top-k doc only if bmax_i + sum(ub_j, j != i) >= theta; every
    other block is skipped without decoding. Safety: a doc absent from all
    surviving blocks has, via any term containing it, score <= that bound
    < theta <= true k-th score — the analogue of the MIH pigeonhole recall
    guarantee (slides p.7-8), but lossless (the >= survival condition keeps
    threshold ties alive for the docID tie-break).

    Stage 2 (exact rescore): for candidate docs (union of surviving blocks),
    decode every block that overlaps a candidate (including pruned ones —
    exactness requires all terms of a candidate) and accumulate exact float64
    contributions in ascending termID order — bit-identical to the exact
    strategy because per candidate the same contributions add in the same
    order.

    ``counter`` (optional) accumulates the measured economics:
    blocks_total / blocks_touched / candidates.

    ``msm`` (min_should_match): a doc is ELIGIBLE only if it matches >= msm
    distinct query terms (shard-complete: a doc's full term set co-locates
    in its shard, so shard-local counts are exact). Pruning stays lossless
    under msm because every threshold is sourced only from docs whose
    KNOWN (undercounted) match count already reaches msm — an undercount
    can only lower a threshold, never prune an eligible doc — while
    eligibility filters use the OVERcounted possible-match bound. Blocks
    with an exactly-zero cross-term bound contain docs matching one term
    only, so msm >= 2 prunes them outright (the msm pruning bonus).
    """
    if counter is None:
        def fetch(t: _BlockTerm, bis: np.ndarray):
            return t.gather(bis)
    else:
        accessed: set[tuple[int, int]] = set()

        def fetch(t: _BlockTerm, bis: np.ndarray):
            accessed.update((t.term_id, int(b)) for b in bis)
            return t.gather(bis)

    ubs = np.array([t.ub for t in terms])
    # ---- stage 0: bounded impact-ordered sampling, ONE batched decode.
    # Big terms contribute just enough of their highest-bmax blocks to see
    # ~k postings (a HARD cost cap of ~(k/block_size + 1) blocks per term);
    # SMALL terms (<= _SMALL_TERM shard postings) are decoded whole — the
    # decode is cheaper than staged bookkeeping and their full docID lists
    # make the stage-1 cross-term bounds exact. All samples decode in one
    # codec pass (_bulk_gather): the per-call fixed cost dominated the cold
    # kernel when each term paid it 2-3 times.
    theta = 0.0  # best known lower bound on the true k-th score (unslacked)
    sampled: list[np.ndarray] = []
    small: list[bool] = []
    # small_cutoff=0 disables the full-decode path entirely (tests use it to
    # exercise the staged machinery on tiny fixtures); otherwise the floor
    # of 2k applies — sampling >= k postings of a <= 2k-posting term is most
    # of a full decode anyway
    cut = max(small_cutoff, 2 * k) if small_cutoff > 0 else 0
    for t0 in terms:
        is_small = cut > 0 and int(t0.n.sum()) <= cut
        small.append(is_small)
        if is_small:
            bis = np.arange(t0.bmax.size)
        else:
            order0 = np.argsort(-t0.bmax, kind="stable")
            take = int(np.searchsorted(np.cumsum(t0.n[order0]), k)) + 1
            bis = np.sort(order0[:take])
        sampled.append(bis)
        if counter is not None:
            accessed.update((t0.term_id, int(b)) for b in bis)
    samples = _bulk_gather(list(zip(terms, sampled)))
    # Threshold bootstrap: per-doc PARTIAL sums over the sampled blocks,
    # accumulated in terms-list order — the SAME relative order the exact
    # rescore uses. Float addition of non-negative values is monotone, so a
    # subsequence accumulated in rescore order can never round above the
    # full rescore sum: these lower bounds are RIGOROUS bit-level bounds on
    # the true scores, no epsilon needed. theta_r/theta_rd is the k-th best
    # (lb, docID) pair under the result order (score DESC, docID ASC) — a
    # valid lex lower bound on the true k-th result, since raising any
    # doc's score to its true value only improves the k-th order statistic.
    acc_d = np.unique(np.concatenate([d for d, _c in samples]))
    acc_lb = np.zeros(acc_d.size)
    acc_cnt = np.zeros(acc_d.size, dtype=np.int64) if msm > 1 else None
    for d, c in samples:  # docIDs unique within each sample (one term)
        p = np.searchsorted(acc_d, d)
        acc_lb[p] += c
        if acc_cnt is not None:
            acc_cnt[p] += 1
    theta_r = 0.0  # rigorous lex threshold (exact, for tie pruning)
    theta_rd = _INF
    if msm > 1:
        # thresholds may come only from docs already KNOWN eligible: the
        # sampled count is an undercount (big terms sample partially), so
        # restricting to acc_cnt >= msm can only lower theta — never lossy
        el = np.flatnonzero(acc_cnt >= msm)
        if el.size >= k:
            sub_d, sub_lb = acc_d[el], acc_lb[el]
            sel = int(np.lexsort((sub_d, -sub_lb))[k - 1])
            theta_r = float(sub_lb[sel])
            theta_rd = int(sub_d[sel])
            theta = theta_r
    elif acc_d.size >= k:
        sel = int(np.lexsort((acc_d, -acc_lb))[k - 1])
        theta_r = float(acc_lb[sel])
        theta_rd = int(acc_d[sel])
        theta = theta_r
    if counter is not None:
        counter["blocks_s0"] = counter.get("blocks_s0", 0) + len(accessed)
        _n0 = len(accessed)
    # ---- stage 1: block-max prefilter with RANGE-MAX cross-term bounds.
    # For block b of term i spanning docIDs [first_b, last_b], any member d
    # lies in exactly one j-block, and that block INTERSECTS [first_b,
    # last_b]: its index sits in [searchsorted(last_j, first_b),
    # searchsorted(first_j, last_b, right)). The exact maximum of term j's
    # bmax over that index window is therefore a safe upper bound on j's
    # contribution to any member of b — strictly tighter than round 2's
    # suffix maximum (which billed every block the max of the entire
    # remaining list: under impact-ordered docIDs the suffix max of a noisy
    # decaying sequence stays pinned at the local peak long past it, and at
    # deep k that slack was the difference between 69% and ~85% pruning).
    # Range maxima come from a per-(shard, term) sparse table shared across
    # the batch (O(n log n) build once, O(1) per query window, all numpy).
    # MaxScore term split: order terms by shard-local upper bound ascending;
    # the largest prefix whose ub sum is STRICTLY below theta is
    # non-essential — a doc containing only those terms scores < theta and
    # can never enter the top-k, so candidates need only come from the
    # essential terms' blocks. This is what kills the hot-term scan in a
    # rare+hot query: theta > ub_hot makes the hot term non-essential and
    # its postings are decoded only where a rare candidate needs rescoring —
    # the literal structure of the reference's two-stage design (cheap
    # recall-safe filter on the selective structure, exact rerank on
    # survivors).
    # Processing order is DESCENDING shard-local upper bound — rare
    # high-impact terms (few blocks, often fully decoded already) first,
    # hot low-impact terms (many blocks) last — with threshold ESCALATION
    # between terms: after each big term's fetch, its newly decoded
    # contributions merge into the partial-sum table and theta re-raises to
    # the k-th largest partial sum, so the many-block hot terms face a far
    # tighter threshold than stage 0 alone provides. Escalated partial sums
    # accumulate in fetch order (not rescore order), so every escalated
    # theta carries a (1 - 1e-12) slack at the comparison site against the
    # one-ulp cases where an out-of-order subset sum rounds above the full
    # sum. Safety of pruning: if a true top-k doc's block were pruned by an
    # essential containing term, score(d) <= bmax_i + others_i < thr <= kth
    # contradicts d in top-k; if ALL its terms were non-essential, the
    # ascending-ub prefix sum at its last term bounds the sum of all its
    # terms' ubs, giving score(d) < thr <= kth again. Each decision may use
    # a different (monotonically growing) theta — every one is a valid
    # lower bound at decision time, so every decision is individually safe.
    #
    # TIE REFINEMENT (the flat-impact fix): where the cross-term bound is
    # exactly 0.0 — single-term queries, and hot-term blocks no other
    # term's posting touches — a member's score is EXACTLY its own
    # contribution <= bmax (one float, no summation), so a block with
    # bmax <= theta_r whose first docID exceeds theta_rd cannot beat the
    # k-th (lb, docID) pair under (score DESC, docID ASC) and is pruned
    # EVEN AT EQUALITY: with quantized impacts (equal-length docs at tf=1)
    # hundreds of blocks tie at bmax == kth score, and docID-order
    # tie-breaking needs only the ones at or before theta_rd.
    asc = np.argsort(ubs, kind="stable")
    csum = np.cumsum(ubs[asc])
    pos = np.empty(len(terms), dtype=np.int64)
    pos[asc] = np.arange(len(terms))
    cand_parts = []
    fetched: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    surv_by_term: dict[int, np.ndarray] = {}
    order = [int(i) for i in np.argsort(-ubs, kind="stable")]
    all_blocks = {
        i: np.arange(terms[i].bmax.size) for i in range(len(terms)) if small[i]
    }
    for oi, i in enumerate(order):
        t = terms[i]
        thr = theta * (1.0 - 1e-12)
        if csum[pos[i]] < thr:  # non-essential at CURRENT theta
            continue
        if small[i]:
            # fully decoded in stage 0: every doc is a candidate, nothing
            # left to prune or decode for this term
            fetched[i] = samples[i]
            surv_by_term[i] = all_blocks[i]
            cand_parts.append(samples[i][0])
            continue
        others = np.zeros(t.bmax.size)
        for j, tj in enumerate(terms):
            if j == i:
                continue
            if small[j]:
                # exact per-block bound from the full posting list: 0.0 for
                # i-blocks holding no j posting — the decisive tightening
                # for sparse terms whose block spans are docID-wide
                dj, cj = samples[j]
                others += _segment_max(dj, cj, t.first, t.last)
            else:
                # i-blocks that no j-block intersects get an exact 0 from j
                lo = np.searchsorted(tj.last, t.first, side="left")
                hi = np.searchsorted(tj.first, t.last, side="right")
                others += _range_max(tj.sparse(), lo, hi)
        alive = t.bmax + others >= thr
        if msm > 1:
            # cross-term bound exactly 0 → no other query term has ANY
            # posting in this block's docID range → members match only this
            # term → ineligible under msm >= 2, prune outright
            alive &= others > 0.0
        if theta_rd != _INF:
            alive &= ~((others == 0.0) & (t.bmax <= theta_r)
                       & (t.first > theta_rd))
        surv = np.flatnonzero(alive)
        if surv.size:
            d, c = fetch(t, surv)
            fetched[i] = (d, c)
            surv_by_term[i] = surv
            cand_parts.append(d)
            if oi == len(order) - 1:
                continue  # no later term left for escalation to help
            # merge this term's NEW blocks (fetched here, not already in the
            # stage-0 sample — each (term, block) contributes exactly once)
            # into the partial-sum table, then escalate theta
            newb = np.setdiff1d(surv, sampled[i], assume_unique=True)
            if newb.size:
                dn, cn = t.gather(newb)  # cache-hit: decoded by fetch above
                merged = np.union1d(acc_d, dn)
                mlb = np.zeros(merged.size)
                pa = np.searchsorted(merged, acc_d)
                pn = np.searchsorted(merged, dn)
                mlb[pa] += acc_lb
                mlb[pn] += cn
                if acc_cnt is not None:
                    mcnt = np.zeros(merged.size, dtype=np.int64)
                    mcnt[pa] += acc_cnt
                    mcnt[pn] += 1  # disjoint blocks of one term: +1 per doc
                    acc_cnt = mcnt
                acc_d, acc_lb = merged, mlb
                if msm > 1:
                    elm = acc_lb[acc_cnt >= msm]
                    if elm.size >= k:
                        theta = max(
                            theta, float(-np.partition(-elm, k - 1)[k - 1])
                        )
                elif acc_d.size >= k:
                    theta = max(
                        theta, float(-np.partition(-acc_lb, k - 1)[k - 1])
                    )
    if counter is not None:
        counter["blocks_s1"] = counter.get("blocks_s1", 0) + len(accessed) - _n0
        _n1 = len(accessed)
    if not cand_parts:
        return []
    cand = np.unique(np.concatenate(cand_parts))
    # ---- stage 1.5: candidate refinement — the deep-k fix. At large k the
    # stage-0 threshold is low, so surviving blocks flood stage 2 with ~30x k
    # candidates whose rescore then decodes even PRUNED blocks of other
    # terms. Before paying that, bound every candidate from data already in
    # hand: lb(d) = Σ exact contributions over the blocks fetched above (a
    # true lower bound — contributions are non-negative — accumulated in the
    # SAME ascending-termID order as the rescore, so for a fully-fetched doc
    # lb equals the final score bit-for-bit and float ties stay safe), and
    # ub(d) = lb(d) + Σ over unfetched terms of the bmax of the ONE block
    # whose docID range holds d (exactly 0 if d falls in a gap — tighter
    # than any suffix maximum). The threshold is raised to the k-th largest
    # lb — a valid lower bound on the true k-th score since lb(d) <= score(d)
    # elementwise — and every candidate with ub < theta' is dropped without
    # another byte decoded. Safety: a true top-k doc has
    # ub >= score >= kth-score >= theta', so >= keeps it (ties included).
    if cand.size > k:
        lb = np.zeros(cand.size)
        ub_extra = np.zeros(cand.size)
        cnt_known = np.zeros(cand.size, dtype=np.int64) if msm > 1 else None
        cnt_extra = np.zeros(cand.size, dtype=np.int64) if msm > 1 else None
        for i, t in enumerate(terms):  # ascending termID — same as rescore
            got = fetched.get(i)
            smask = np.zeros(t.bmax.size, dtype=bool)
            if got is not None:
                d, c = got
                # d may be empty under a doc_filter (a surviving block whose
                # postings all masked out) — the block still counts as
                # fetched (smask), it just contributes nothing
                if d.size:
                    idx = np.searchsorted(d, cand)
                    idx_c = np.minimum(idx, d.size - 1)
                    m = (idx < d.size) & (d[idx_c] == cand)
                    lb[m] += c[idx[m]]
                    if cnt_known is not None:
                        cnt_known[m] += 1
                smask[surv_by_term[i]] = True
            bi = np.searchsorted(t.last, cand, side="left")
            bi_c = np.minimum(bi, t.first.size - 1)
            unfetched = (
                (bi < t.first.size) & (t.first[bi_c] <= cand) & ~smask[bi_c]
            )
            ub_extra[unfetched] += t.bmax[bi_c[unfetched]]
            if cnt_extra is not None:
                cnt_extra[unfetched] += 1
        # lb here is accumulated in ascending-termID (rescore) order, so the
        # k-th largest lb is a rigorous bound; theta may carry escalation's
        # out-of-order sums, so the comparison keeps the (1 - 1e-12) slack
        # (also covering ub_extra's own summation rounding)
        if msm > 1:
            # threshold from KNOWN-eligible docs only (cnt_known is an
            # undercount — a doc's match in an unfetched block is missed —
            # so this theta can only be too low, never lossy); eligibility
            # drop uses the OVERcount known+possible, so no eligible doc
            # is dropped
            ell = lb[cnt_known >= msm]
            theta2 = max(theta, float(-np.partition(-ell, k - 1)[k - 1])) \
                if ell.size >= k else theta
            keep = (lb + ub_extra) >= theta2 * (1.0 - 1e-12)
            keep &= (cnt_known + cnt_extra) >= msm
        else:
            theta2 = max(theta, float(-np.partition(-lb, k - 1)[k - 1]))
            keep = (lb + ub_extra) >= theta2 * (1.0 - 1e-12)
        cand = cand[keep]
        if cand.size == 0:
            return []
    # ---- stage 2: exact rescore of candidates in ascending termID order
    if msm > 1:
        cnts = np.zeros(cand.size, dtype=np.int64)
        scores = _rescore_lazy(terms, cand, fetch, counts=cnts)
        # ineligible candidates zero out; every eligible doc has >= msm
        # strictly-positive contributions, so no eligible score is 0
        scores = np.where(cnts >= msm, scores, 0.0)
    else:
        scores = _rescore_lazy(terms, cand, fetch)
    if counter is not None:
        counter["blocks_s2"] = counter.get("blocks_s2", 0) + len(accessed) - _n1
        counter["blocks_total"] += sum(len(t.blobs) for t in terms)
        counter["blocks_touched"] += len(accessed)
        counter["candidates"] += int(cand.size)
        # postings-level economics: blocks are not equal-sized (adaptive
        # small-term blocks hold ~4 postings, hot blocks 128), so the
        # decoded-postings ratio is the honest decode-work metric
        by_tid = {t.term_id: t for t in terms}
        counter["postings_touched"] = counter.get("postings_touched", 0) + int(
            sum(int(by_tid[tid].n[b]) for tid, b in accessed)
        )
        counter["postings_total"] = counter.get("postings_total", 0) + int(
            sum(int(t.n.sum()) for t in terms)
        )
    return _topk_vec(scores, cand, k)


def _rescore_lazy(terms: list[_BlockTerm], cand: np.ndarray, fetch,
                  counts: np.ndarray | None = None) -> np.ndarray:
    """Exact scores for sorted unique candidate docIDs: per term, decode only
    the blocks whose [first, last] docID range contains a candidate, then
    accumulate with the same searchsorted scheme as :func:`_rescore`.

    ``counts`` (optional int64 array, len(cand)): accumulates the exact
    per-candidate matched-term count (each term contains a doc at most once)
    — the min_should_match eligibility input."""
    scores = np.zeros(cand.size, dtype=np.float64)
    for t in terms:  # ascending termID — float determinism
        lo = np.searchsorted(cand, t.first, side="left")
        hi = np.searchsorted(cand, t.last, side="right")
        bis = np.flatnonzero(hi > lo)
        if bis.size == 0:
            continue
        doc, contr = fetch(t, bis)
        if cand.size < doc.size // 8:
            idx = np.searchsorted(doc, cand)
            idx_c = np.minimum(idx, doc.size - 1)
            m = (idx < doc.size) & (doc[idx_c] == cand)
            scores[m] += contr[idx[m]]
            if counts is not None:
                counts[m] += 1
        else:
            pos = np.searchsorted(cand, doc)
            pos_c = np.minimum(pos, cand.size - 1)
            m = (pos < cand.size) & (cand[pos_c] == doc)
            scores[pos[m]] += contr[m]
            if counts is not None:
                counts[pos[m]] += 1
    return scores


def _exact_shard(terms: list[_BlockTerm], k: int, msm: int = 1) -> list[tuple[float, int]]:
    """Brute-force stage-2-only scoring (the ``es-long`` method analogue):
    decode everything (cached across the batch), vectorized accumulate in
    termID order, top-k. ``msm``: drop docs matching < msm distinct terms
    (exact counts — everything is decoded here)."""
    full = [t.decode_full() for t in terms]
    uniq = np.unique(np.concatenate([f[0] for f in full]))
    scores = np.zeros(len(uniq), dtype=np.float64)
    cnts = np.zeros(len(uniq), dtype=np.int64) if msm > 1 else None
    for doc, contr, _bstarts in full:  # terms arrive in termID order
        idx = np.searchsorted(uniq, doc)
        scores[idx] += contr
        if cnts is not None:
            cnts[idx] += 1
    if cnts is not None:
        scores = np.where(cnts >= msm, scores, 0.0)
    return _topk_vec(scores, uniq, k)


# sentinel qids for the optional economics rows (filtered out of results)
_STATS_QIDS = {
    "blocks_total": -1,
    "blocks_touched": -2,
    "candidates": -3,
    "postings_total": -4,
    "postings_touched": -5,
    "blocks_s0": -6,
    "blocks_s1": -7,
    "blocks_s2": -8,
}


def _blob_views(tbl: pa.Table) -> list[memoryview]:
    """Zero-copy per-row views into the binary column's data buffers — no
    per-row Python bytes materialization (the same buffer-slice scheme the
    merge kernel uses, build.py). Chunk-aware: no combine_chunks, so >2 GiB
    of total blob bytes per partition never overflows int32 offsets."""
    views: list[memoryview] = []
    for ch in tbl.column("blob").chunks:
        offs = np.frombuffer(ch.buffers()[1], dtype=np.int32)
        base = ch.offset
        data = memoryview(ch.buffers()[2])
        views.extend(
            data[offs[base + i]: offs[base + i + 1]] for i in range(len(ch))
        )
    return views


def _cell_kernel(avgdl: float, strategy: str, safe_bounds: bool,
                 filtered: bool, small_cutoff: int,
                 qinfo: list[dict] | None = None,
                 collect_stats: bool = False):
    """mapInArrow kernel shared by :func:`search` and :func:`search_mining`,
    over postings rows sorted by ([bucket,] shard, termID, block_id). A
    cell is one run of equal (bucket, shard): one doc shard, scored for one
    batch of queries.

    Emits per-(query, cell) top-k candidates; the global window merge picks
    the final top-k. Safe because per-shard thresholds only prune docs that
    lose within their own shard — a fortiori they lose globally.

    The callers differ only in where the query plans come from: ``qinfo``
    is ``search``'s driver-planned batch (:func:`plan_queries` dicts),
    scored in every cell; ``None`` means ``search_mining``, whose cells
    carry their bucket's plans as leading ``_QINFO_TERM`` rows.

    With ``collect_stats``, sentinel rows (qid < 0) carry the partition's
    summed pruning economics; ``search(with_stats=True)`` aggregates them.
    """

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from .session import disable_thp

        disable_thp()
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return
        shard = tbl.column("shard").to_numpy()
        term = tbl.column("termID").to_numpy()
        first = tbl.column("first_docID").to_numpy()
        last = tbl.column("last_docID").to_numpy()
        n = tbl.column("n").to_numpy()
        if safe_bounds:
            # post-append: stored max_impact was computed under build-time
            # (idf, avgdl) which the append changed — rebuild a safe bound
            # from the idf/avgdl-free block stats under CURRENT stats
            # (append.py; tf_part increasing in tf, decreasing in dl, so
            # tf_part(max_tf, min_dl) >= tf_part of any member posting).
            # idf multiplies in per term below.
            bmax = scoring.tf_part_np(
                tbl.column("max_tf").to_numpy(),
                tbl.column("min_dl").to_numpy(),
                avgdl,
            )
        else:
            bmax = tbl.column("max_impact").to_numpy()
        blobs = _blob_views(tbl)
        counter = {k: 0 for k in _STATS_QIDS} if collect_stats else None
        out_q, out_d, out_s = [], [], []
        # rows arrive sorted, so cells, each cell's sentinel prefix
        # (_QINFO_TERM = -2 < _ALLOW_TERM = -1 < every real termID) and its
        # term groups are CONTIGUOUS RUNS: boundary detection instead of
        # per-value mask scans (O(cells x rows) + O(terms x rows)), and
        # per-cell term packs are built ONCE and shared by reference across
        # the cell's queries — per-(query, term) setup is O(1) instead of
        # O(blocks-of-term), the difference between the wall scaling with
        # corpus size and scaling with touched blocks on hot terms
        # (measured on the 26.9M-turn xxl tier, BENCH.md).
        brk = shard[1:] != shard[:-1]
        if "bucket" in tbl.column_names:
            bucket = tbl.column("bucket").to_numpy()
            brk |= bucket[1:] != bucket[:-1]
        cell_starts = np.flatnonzero(np.r_[True, brk])
        cell_ends = np.append(cell_starts[1:], shard.size)
        for c0, c1 in zip(cell_starts, cell_ends):
            c_term = term[c0:c1]
            qn = int(np.searchsorted(c_term, _QINFO_TERM, side="right"))
            an = int(np.searchsorted(c_term, _ALLOW_TERM, side="right"))
            if qinfo is not None:
                plans = qinfo
            else:
                # work order: qid in first_docID, k in last_docID, nt
                # sorted termIDs (int64) then their idfs (float64) in blob
                plans = []
                for r in range(c0, c0 + qn):
                    nt = int(n[r])
                    tids = np.frombuffer(blobs[r][: 8 * nt], dtype=np.int64)
                    idfs = np.frombuffer(blobs[r][8 * nt:], dtype=np.float64)
                    plans.append({
                        "qid": int(first[r]), "k": int(last[r]),
                        "terms": [(t, w, 1.0) for t, w in
                                  zip(tids.tolist(), idfs.tolist())],
                    })
                if not plans:
                    continue  # no queries landed in this bucket
            allow = None
            if filtered:
                # allow-set chunks sort after the work orders and before
                # every real term, in block_id order; each chunk is sorted
                # and chunks ascend, so concatenation IS the shard's sorted
                # allow-set. A filtered cell with no allow rows has no
                # allowed docs.
                allow = (
                    np.concatenate(
                        [np.frombuffer(blobs[r], dtype=np.int64)
                         for r in range(c0 + qn, c0 + an)]
                    )
                    if an > qn
                    else np.empty(0, dtype=np.int64)
                )
            packs: dict = {}  # termID -> (first, last, n, bmax, ub, blobs)
            real = c_term[an:]
            if real.size:
                tstarts = np.flatnonzero(np.r_[True, real[1:] != real[:-1]])
                tends = np.append(tstarts[1:], real.size)
                for s0, s1 in zip(tstarts, tends):
                    a0, a1 = c0 + an + int(s0), c0 + an + int(s1)
                    tb = bmax[a0:a1]
                    packs[int(real[s0])] = (
                        first[a0:a1], last[a0:a1], n[a0:a1],
                        tb, float(tb.max()), blobs[a0:a1],
                    )
            decode_cache: dict = {}  # (termID, block) -> arrays, shared by queries
            scaled: dict = {}  # (termID, scale) -> scaled (bmax, ub)
            for q in plans:
                bts = []
                for term_id, weight, boost in q["terms"]:  # ascending termID
                    p = packs.get(term_id)
                    if p is None:
                        continue
                    fir, las, nn, tb, ub, bl = p
                    # stored max_impact bakes in build-time idf, so a query
                    # boost must scale the bounds too — otherwise boosted
                    # contributions exceed the block maxima and pruning
                    # silently turns lossy. safe_bounds rebuilds impact-free
                    # bounds and multiplies the (already boosted) weight in.
                    scl = weight if safe_bounds else boost
                    if scl != 1.0:
                        ent = scaled.get((term_id, scl))
                        if ent is None:
                            ent = scaled[(term_id, scl)] = (tb * scl, ub * scl)
                        tb, ub = ent
                    bts.append(_BlockTerm(
                        term_id, weight, fir, las, nn, tb, bl, avgdl=avgdl,
                        cache=decode_cache, allow=allow, scale=scl, ub=ub))
                msm = q.get("msm", 1)
                if not bts or len(bts) < msm:
                    # a doc's full term set co-locates in its shard, so a
                    # shard holding postings for fewer than msm of the
                    # query's terms cannot contain an eligible doc
                    continue
                if strategy == "wand":
                    top = _bmw_shard(bts, q["k"], counter,
                                     small_cutoff=small_cutoff, msm=msm)
                else:
                    top = _exact_shard(bts, q["k"], msm=msm)
                for s, d in top:
                    out_q.append(q["qid"])
                    out_d.append(d)
                    out_s.append(s)
        if counter is not None:
            for name, qid in _STATS_QIDS.items():
                out_q.append(qid)
                out_d.append(counter[name])
                out_s.append(0.0)
        yield pa.RecordBatch.from_pydict(
            {"qid": out_q, "docID": out_d, "score": out_s},
            schema=pa.schema([("qid", pa.int64()), ("docID", pa.int64()), ("score", pa.float64())]),
        )

    return kernel


def fuzzy_expansions(
    terms_df: DataFrame,
    qtokens: list[str],
    fuzzy: int,
    prefix_length: int = 0,
    max_expansions: int = 50,
) -> dict[str, list[tuple[str, int, float]]]:
    """Expand query tokens against the term dictionary within Levenshtein
    distance ``fuzzy`` (the ES ``match`` ``fuzziness`` analogue).

    Scale shape: ONE parallel scan of the term dictionary (a dimension
    table — vocabulary-sized, not corpus-sized) with a pushed-down length
    band (and first-``prefix_length``-chars set when ``prefix_length`` > 0)
    for row-group pruning, broadcast-joined against the tiny query-token
    list on a JVM-side ``levenshtein`` predicate. No shuffle; the collect
    is bounded by ``len(qtokens) * max_expansions``.

    Per token, at most ``max_expansions`` dictionary terms are kept, highest
    document frequency first with term-ASC tie-break — ES's
    ``top_terms_N`` rewrite made deterministic. Distance is classic
    Levenshtein (Spark/DuckDB built-in): a transposition costs 2, not 1 as
    in ES's Damerau variant — documented deviation.

    Returns {qtoken: [(term, termID, idf)]} sorted by the selection order;
    a distance-0 (exact) hit participates like any other expansion.
    """
    if fuzzy < 1:
        raise ValueError(f"fuzzy must be >= 1 (got {fuzzy})")
    if not qtokens:
        return {}
    spark = terms_df.sparkSession
    qdf = spark.createDataFrame([(t,) for t in sorted(set(qtokens))], "qterm string")
    lens = [len(t) for t in qtokens]
    cand = terms_df.where(
        (F.length("term") >= min(lens) - fuzzy)
        & (F.length("term") <= max(lens) + fuzzy)
    )
    cond = (F.abs(F.length("term") - F.length("qterm")) <= fuzzy) & (
        F.levenshtein(F.col("term"), F.col("qterm")) <= fuzzy
    )
    if prefix_length > 0:
        firsts = sorted({t[:prefix_length] for t in qtokens})
        cand = cand.where(F.substring("term", 1, prefix_length).isin(firsts))
        cond = cond & (
            F.substring("term", 1, prefix_length)
            == F.substring("qterm", 1, prefix_length)
        )
    w = Window.partitionBy("qterm").orderBy(F.desc("df"), F.asc("term"))
    rows = (
        cand.join(F.broadcast(qdf), cond)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(max_expansions))
        .select("qterm", "term", "termID", "idf", "_rn")
        .collect()
    )
    out: dict[str, list[tuple[str, int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r["qterm"], r["_rn"])):
        out.setdefault(r["qterm"], []).append(
            (r["term"], int(r["termID"]), float(r["idf"]))
        )
    return out


def plan_queries(
    terms_df: DataFrame,
    queries: list[tuple[int, str, int]],
    boosts: dict[int, dict[str, float]] | None = None,
    min_should_match: int | dict[int, int] = 1,
    offset: int | dict[int, int] = 0,
    fuzzy: int = 0,
    fuzzy_prefix: int = 0,
    max_expansions: int = 50,
    analyzer: tuple = ((), False),
) -> tuple[list[dict], list[int]]:
    """Resolve query texts to [(termID, weight, boost)] via the term
    dictionary, where weight = idf * boost is the query-time scoring weight.

    ``analyzer``: (stopwords, stem) — the INDEX's configured analyzer chain
    (search() reads it from meta.json), applied to query text so queries
    and postings always tokenize identically: query stopwords vanish
    before min_should_match counts clauses (ES stop-filter semantics) and
    query tokens stem to the dictionary's stemmed surface forms.

    The dictionary lookup is a pushed-down ``term IN (...)`` point read — the
    analogue of the reference's by-id GETs into the ``nbs`` index
    (``es_query.7.x.json:63-99``).

    ``boosts``: optional {qid: {token: boost}} per-term multipliers (the ES
    ``term^boost`` / per-clause ``boost`` analogue; tokens are the
    post-tokenization forms — use :func:`parse_boosts` for the query-string
    syntax). Boost multiplies the term's whole BM25 contribution; the kernel
    scales the term's block maxima by the same factor, so WAND pruning
    bounds stay valid upper bounds and retrieval remains exact.

    ``min_should_match``: int (all queries) or {qid: int}; a doc qualifies
    only if it matches >= that many DISTINCT query tokens (ES bool
    ``minimum_should_match``). Mirrors ES clause counting: tokens absent
    from the dictionary still count toward the requirement but can never
    match, so a query with fewer resolvable terms than its msm returns
    nothing.
    """
    def _msm_for(qid: int) -> int:
        m = min_should_match.get(qid, 1) if isinstance(min_should_match, dict) \
            else min_should_match
        return int(m)

    _msm_all = (list(min_should_match.values())
                if isinstance(min_should_match, dict) else [min_should_match])
    for m in _msm_all:
        if int(m) < 1:
            raise ValueError(f"min_should_match must be >= 1 (got {m})")

    def _off_for(qid: int) -> int:
        o = offset.get(qid, 0) if isinstance(offset, dict) else offset
        return int(o)

    _off_all = (list(offset.values()) if isinstance(offset, dict) else [offset])
    for o in _off_all:
        if int(o) < 0:
            raise ValueError(f"offset must be >= 0 (got {o})")
    for qid, qb in (boosts or {}).items():
        for t, b in (qb or {}).items():
            if not (float(b) > 0.0):
                raise ValueError(
                    f"boost for term {t!r} of qid {qid} must be > 0 (got {b}):"
                    " non-positive weights break the non-negative-contribution"
                    " invariant the pruning bounds rely on"
                )
    _stop, _stem = frozenset(analyzer[0] or ()), bool(analyzer[1])
    _syn = tuple(analyzer[2]) if len(analyzer) > 2 else ()
    all_terms = sorted({t for _, text, _ in queries
                        for t in tokenize_py(text, _stop, _stem, _syn)})
    if not all_terms:
        return [], []
    if fuzzy > 0:
        # ES match-with-fuzziness: every token expands to its dictionary
        # neighborhood; each expanded term scores with ITS OWN idf and
        # inherits the originating token's boost. A term reachable from two
        # tokens contributes ONCE (distinct index-term clauses), keeping the
        # max weight — deterministic, and msm counts these distinct index
        # terms.
        expansions = fuzzy_expansions(
            terms_df, all_terms, fuzzy,
            prefix_length=fuzzy_prefix, max_expansions=max_expansions,
        )
    else:
        direct = {
            r["term"]: (r["termID"], r["idf"])
            for r in terms_df.where(F.col("term").isin(all_terms))
            .select("term", "termID", "idf")
            .collect()
        }
        expansions = {
            t: [(t, tid, idf)] for t, (tid, idf) in direct.items()
        }
    qinfo = []
    needed: set[int] = set()
    for qid, text, k in queries:
        qb = (boosts or {}).get(qid) or {}
        if qb and (_stop or _stem or _syn):
            # boost keys are surface tokens (parse_boosts); analyze them so
            # term^boost lands on the stemmed dictionary form it scores as
            # (two surfaces sharing a stem keep the max boost —
            # deterministic)
            ab: dict[str, float] = {}
            for kk, bb in qb.items():
                for t2 in tokenize_py(kk, _stop, _stem, _syn):
                    ab[t2] = max(ab.get(t2, 0.0), float(bb))
            qb = ab
        by_tid: dict[int, tuple[float, float]] = {}
        for t in tokenize_py(text, _stop, _stem, _syn):
            b = float(qb.get(t, 1.0))
            for _term, tid, idf in expansions.get(t, ()):
                wgt = (idf * b, b)
                if tid not in by_tid or wgt > by_tid[tid]:
                    by_tid[tid] = wgt
        resolved = sorted(
            (tid, w, b) for tid, (w, b) in by_tid.items()
        )  # distinct terms, ascending termID
        m = _msm_for(qid)
        off = _off_for(qid)
        # a doc can match at most len(resolved) clauses (unresolvable
        # tokens never match but still count toward the msm requirement,
        # per ES) — an unsatisfiable requirement returns nothing
        if resolved and k > 0 and len(resolved) >= m:
            # pagination (ES from/size): the kernel retrieves the top
            # (offset + k) — pruning thresholds target that depth — and the
            # final global window slices ranks (offset, offset + k]
            qinfo.append({"qid": qid, "k": int(k) + off, "terms": resolved,
                          "msm": m, "offset": off})
            needed.update(t for t, _w, _b in resolved)
    return qinfo, sorted(needed)


_BOOST_RE = re.compile(r"\^(\d+(?:\.\d+)?)$")


def parse_boosts(text: str) -> tuple[str, dict[str, float]]:
    """Parse the ES query-string ``term^boost`` syntax: returns the plain
    query text (boost markers stripped) and {token: boost} for the boosted
    words, ready for ``search(..., boosts={qid: ...})``. Tokens repeated
    with different boosts keep the LAST marker (documented, deterministic);
    unmarked words carry no entry (boost 1.0)."""
    words, boosts = [], {}
    for w in text.split():
        m = _BOOST_RE.search(w)
        b = 1.0
        if m:
            b = float(m.group(1))
            w = w[: m.start()]
        words.append(w)
        if b != 1.0:
            for tok in tokenize_py(w):
                boosts[tok] = b
    return " ".join(words), boosts


def suggest_terms(
    terms_df: DataFrame,
    prefixes: list[str],
    n: int = 5,
) -> DataFrame:
    """ES completion/term suggester over the index's own vocabulary: for
    each prefix, the top-``n`` dictionary terms starting with it, highest
    document frequency first (term-ASC tie-break) — "did you mean /
    autocomplete" backed by the term dictionary instead of a separate FST.

    Scale shape: one scan of the vocabulary-sized term dictionary with the
    prefix disjunction pushed down (StringStartsWith reaches the parquet
    scan), broadcast-joined against the tiny prefix list; output is
    ``len(prefixes) * n`` rows. Empty or no-match prefixes yield no rows.
    Returns (prefix, suggestion, df, rank).
    """
    spark = terms_df.sparkSession
    pfx = sorted({p for p in prefixes if p})
    if not pfx:
        return spark.createDataFrame(
            [], "prefix string, suggestion string, df long, rank int")
    pdf = spark.createDataFrame([(p,) for p in pfx], "prefix string")
    cond = None
    for p in pfx:
        c = F.col("term").startswith(p)
        cond = c if cond is None else (cond | c)
    w = Window.partitionBy("prefix").orderBy(F.desc("df"), F.asc("term"))
    return (
        terms_df.where(cond)
        .join(F.broadcast(pdf), F.col("term").startswith(F.col("prefix")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(n))
        .select("prefix", F.col("term").alias("suggestion"),
                F.col("df").cast("long").alias("df"), "rank")
    )


def wildcard_to_regex(pattern: str) -> str:
    """ES wildcard pattern -> anchored Java/RE2-safe regex: ``*`` = any run
    of token chars (including empty), ``?`` = exactly one, everything else
    literal. Token chars are ``[a-z0-9]`` — the normalized vocabulary's
    whole alphabet — so the classes and ``.`` are equivalent here; the
    explicit class keeps the translation honest if normalization widens."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("[a-z0-9]*")
        elif ch == "?":
            out.append("[a-z0-9]")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def wildcard_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]] | DataFrame,
    max_expansions: int = 50,
    strategy: str = "wand",
) -> DataFrame:
    """ES ``wildcard`` query with the ``scoring_boolean`` rewrite: the
    pattern (``*`` any run, ``?`` one char — anchored whole-term, ES
    semantics) expands against the term dictionary, capped at
    ``max_expansions`` terms in term-ASC order (the deterministic
    truncation shared with :func:`phrase_prefix_search`), and docs are
    ranked by bool-OR BM25 over the expansions. A pattern with no
    dictionary match returns nothing.

    Scale shape: expansion is one pass per pattern over the
    vocabulary-sized term dictionary (leading-wildcard patterns can't
    push a prefix filter down — that full vocab scan is the honest cost,
    and the vocabulary is orders of magnitude smaller than the corpus);
    everything after is the standard two-stage search kernel. Returns
    (qid, rank, docID, score)."""
    return _expansion_or_search(
        spark, index_dir, queries, wildcard_to_regex,
        max_expansions, strategy)


def regexp_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]] | DataFrame,
    max_expansions: int = 50,
    strategy: str = "wand",
) -> DataFrame:
    """ES ``regexp`` query with the ``scoring_boolean`` rewrite: an
    anchored whole-term regexp — written in the Java∩RE2 common dialect
    (literals, classes, alternation, quantifiers; no lookaround or
    backreferences), the same portability pin as pii_redact — expands
    against the term dictionary (term-ASC, ``max_expansions`` cap) and
    docs are ranked by bool-OR BM25 over the expansions. Same scale shape
    as :func:`wildcard_search`."""
    return _expansion_or_search(
        spark, index_dir, queries, lambda p: f"^(?:{p})$",
        max_expansions, strategy)


def _expansion_or_search(spark, index_dir, queries, regex_of,
                         max_expansions, strategy):
    if isinstance(queries, DataFrame):
        qlist = [(r["qid"], r["text"], r["k"])
                 for r in queries.select("qid", "text", "k").collect()]
    else:
        qlist = list(queries)
    _m, _d, terms_df, _p = load_index(spark, index_dir)
    pats = sorted({str(p) for _q, p, _k in qlist})
    tagged = None
    for p in pats:
        t = terms_df.where(F.col("term").rlike(regex_of(p))) \
            .select(F.lit(p).alias("pat"), "term")
        tagged = t if tagged is None else tagged.unionByName(t)
    exp_of: dict[str, list[str]] = {}
    if tagged is not None:
        w = Window.partitionBy("pat").orderBy(F.asc("term"))
        for r in (tagged.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") <= int(max_expansions))
                  .select("pat", "term").collect()):
            exp_of.setdefault(r["pat"], []).append(r["term"])
    rewritten = [
        (int(q), " ".join(sorted(exp_of[str(p)])), int(k))
        for q, p, k in qlist if exp_of.get(str(p))
    ]
    if not rewritten:
        return spark.createDataFrame(
            [], "qid long, rank int, docID long, score double")
    return search(spark, index_dir, rewritten, strategy=strategy)


def parse_query_string(text: str) -> dict:
    """Parse the ES ``query_string`` mini-dialect this engine serves:

    - ``term^2.5`` — per-term boost (``parse_boosts`` rules)
    - ``-term`` — negated term (bool must_not, non-scoring); a ``^boost``
      marker on a negated word is stripped (must_not runs in filter
      context, ES discards the boost there too — keeping it would leak
      the ``^2`` suffix into tokenization and silently also exclude the
      digit token)
    - ``"a b c"`` — the WHOLE string as one phrase (match_phrase); quotes
      embedded inside a longer query are rejected (ES scores
      phrase-plus-terms as a bool sum of clause scores, which this engine
      does not offer — one loud error beats silently different ranking)

    A query of ONLY negated terms (e.g. ``-foo``) is rejected loudly: ES
    treats must_not-only as match_all-minus-excluded, but this engine has
    no scoring clause to rank that set by, and silently returning zero
    rows (the old behavior) diverges from both. One loud error, same
    philosophy as the embedded-quote rejection.

    Returns {"text", "boosts", "must_not", "phrase"} ready for
    :func:`query_string` dispatch. Pure string processing — no Spark.
    """
    t = text.strip()
    if t.startswith('"') and t.endswith('"') and len(t) >= 2 \
            and '"' not in t[1:-1]:
        return {"text": t[1:-1], "boosts": {}, "must_not": "", "phrase": True}
    if '"' in t:
        raise ValueError(
            "query_string: embedded quotes (phrase mixed with terms) are "
            "not supported — pass the phrase alone or drop the quotes")
    pos_words, neg_words = [], []
    for w in t.split():
        if w.startswith("-") and len(w) > 1:
            neg_words.append(_BOOST_RE.sub("", w[1:]))
        else:
            pos_words.append(w)
    if neg_words and not pos_words:
        raise ValueError(
            "query_string: must_not-only queries (all terms negated) are "
            "not supported — ES ranks match_all minus the exclusions, "
            "which this engine has no scoring clause for; add at least "
            "one positive term")
    plain, boosts = parse_boosts(" ".join(pos_words))
    return {"text": plain, "boosts": boosts,
            "must_not": " ".join(neg_words), "phrase": False}


def query_string(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]] | DataFrame,
    strategy: str = "wand",
) -> DataFrame:
    """ES ``query_string``: one text endpoint serving the dialect of
    :func:`parse_query_string` — boosted terms, negated terms, and
    whole-string phrases — by dispatching each query to the engine path
    that serves it exactly (search with boosts, :func:`bool_search`,
    :func:`phrase_search`). One batched engine pass per needed path, not
    per query. Returns (qid, rank, docID, score)."""
    if isinstance(queries, DataFrame):
        qlist = [(r["qid"], r["text"], r["k"])
                 for r in queries.select("qid", "text", "k").collect()]
    else:
        qlist = list(queries)
    parsed = {int(q): parse_query_string(t) for q, t, _k in qlist}
    phrase_q = [(q, parsed[q]["text"], k) for q, _t, k in qlist
                if parsed[q]["phrase"]]
    term_q = [(q, parsed[q]["text"], k) for q, _t, k in qlist
              if not parsed[q]["phrase"]]
    parts = []
    if phrase_q:
        parts.append(phrase_search(spark, index_dir, phrase_q,
                                   strategy=strategy))
    if term_q:
        boosts = {q: p["boosts"] for q, p in parsed.items() if p["boosts"]}
        negs = {q: p["must_not"] for q, p in parsed.items()
                if p["must_not"]}
        if negs:
            parts.append(bool_search(spark, index_dir, term_q, must_not=negs,
                                     strategy=strategy, boosts=boosts or None))
        else:
            parts.append(search(spark, index_dir, term_q, strategy=strategy,
                                boosts=boosts or None))
    if not parts:
        return spark.createDataFrame(
            [], "qid long, rank int, docID long, score double")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _meta_analyzer(meta: dict) -> tuple:
    """The index's configured analyzer chain from its meta.json, in the
    (stopwords, stem, synonyms) form every tokenizer twin accepts — query
    text must always analyze exactly like the postings did."""
    cfg = meta.get("config") or {}
    return (frozenset(cfg.get("stopwords") or ()), bool(cfg.get("stem")),
            tuple((k, v) for k, v in (cfg.get("synonyms") or ())))


def _sloppy_pf(toks):
    """Sloppy phrase frequency as ONE codegen'd expression over the token
    array (columns ``phr``/``L``/``slop``/``dterms`` come from the
    broadcast per-query table; semantics pinned in the
    :func:`phrase_search` docstring).

    For each start i where toks[i] == phr[1]: a greedy-leftmost state
    machine folds over the slop window slice(toks, i+1, L-1+slop) —
    state (m = remaining tokens matched, p = cursor, e = window-relative
    position of the LAST matched token). Greedy minimizes every match
    position simultaneously, so m == L-1 decides existence within the
    window AND e is the minimal span end: gap = e - (L-1), weight
    1/(gap+1). The weight sum is then capped at the minimum tf among the
    phrase's distinct terms (the exactness cap). All nested
    higher-order expressions — no Python, bounded by candidates x
    window length."""
    L, S = F.col("L"), F.col("slop")

    def hit(st, e):
        # once the phrase is fully matched (m == L - 1) the read is one past
        # phr: element_at would throw under ANSI mode unless And happened to
        # skip its right side; try_element_at yields null, which is no hit
        return (st["m"] < L - 1) & (
            e == F.try_element_at(F.col("phr"), st["m"] + 2))

    def weight(i):
        inner = F.aggregate(
            F.slice(toks, i + 1, L - 1 + S),
            F.struct(F.lit(0).alias("m"), F.lit(0).alias("p"),
                     F.lit(0).alias("e")),
            lambda st, e: F.struct(
                (st["m"] + F.when(hit(st, e), F.lit(1)).otherwise(F.lit(0)))
                .alias("m"),
                (st["p"] + 1).alias("p"),
                F.when(hit(st, e), st["p"] + 1).otherwise(st["e"]).alias("e"),
            ),
        )
        return F.when(
            inner["m"] == L - 1,
            F.lit(1.0) / (inner["e"] - (L - 1) + 1),
        ).otherwise(F.lit(0.0))

    pf_w = F.when(
        F.size(toks) >= L,
        F.aggregate(
            F.sequence(F.lit(1), F.size(toks) - L + 1),
            F.lit(0.0),
            lambda acc, i: acc + F.when(
                F.element_at(toks, i) == F.element_at(F.col("phr"), 1),
                weight(i),
            ).otherwise(F.lit(0.0)),
        ),
    ).otherwise(F.lit(0.0))
    min_tf = F.array_min(F.transform(
        F.col("dterms"),
        lambda t: F.size(F.filter(toks, lambda x: x == t)),
    ))
    return F.least(pf_w, min_tf.cast("double"))


def phrase_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]] | DataFrame,
    strategy: str = "wand",
    deepen_cap: int = 1 << 22,
    last_prefix: bool = False,
    max_expansions: int = 50,
    slop: int | dict[int, int] = 0,
) -> DataFrame:
    """ES ``match_phrase``: top-k docs containing the query tokens
    CONSECUTIVELY (normalized token sequence), ranked by the POSITIONAL
    phrase score — BM25 with the phrase frequency as the term frequency,
    the Lucene PhraseQuery shape:

        score(d) = idf_sum * pf / (pf + k1*(1 - b + b*dl/avgdl))

    where ``pf`` counts every (overlap-counted) position where the token
    sequence matches the phrase, ``dl`` is the document length, and
    ``idf_sum`` sums idf over the phrase's DISTINCT terms. (Lucene sums
    idf over phrase positions, repeats included; distinct-sum is pinned
    here because it keeps phrase score <= the coarse all-terms BM25 sum —
    the bound the exactness proof below needs — and the two only differ
    for self-repeating phrases like "a a".)

    Two-stage, in the reference's coarse-filter-then-verify shape
    (``/root/reference/dh/app/es_requests.py`` two-stage retrieval): the
    coarse stage retrieves the top-K BM25 candidates that contain ALL
    distinct phrase terms (``min_should_match = n_terms`` — conjunctive,
    so WAND prunes hard); the verify stage counts positional matches
    against the index's own stored text entirely JVM-side (a codegen'd
    ``filter(sequence(...), i -> slice(tokens, i, L) == phrase)`` over the
    K-bounded candidate set, joined corpus-side via ONE broadcast hash
    join — no shuffle of the docs table) and computes the phrase score
    from (pf, doclen).

    Exactness: for every doc, phrase score <= coarse score — pf <= tf of
    each distinct term, tf-saturation is monotone, and idf_sum is the
    distinct-term idf total, so idf_sum * sat(pf) <= sum_t idf_t * sat(tf_t).
    Docs beyond the K-page have coarse score <= the page's minimum coarse
    score s_min, hence phrase score <= s_min too. The page is final once k
    verified docs score STRICTLY above s_min (ties must deepen: an unseen
    doc could tie and win the docID tie-break) or the candidate ranking is
    exhausted; otherwise K quadruples (iterative deepening, log-bounded;
    ``deepen_cap`` guards the hot-phrase blowup — reaching it raises
    rather than silently truncating).

    Single-token phrases degrade to plain ``search`` — identical scoring,
    since pf == tf there. Returns (qid, rank, docID, score).

    ``last_prefix=True`` is ES ``match_phrase_prefix`` (use the
    :func:`phrase_prefix_search` front door): the LAST token is a prefix,
    expanded against the term dictionary to at most ``max_expansions``
    terms in term-ASC order (ES's silent, deterministic truncation; one
    dictionary scan with the StartsWith disjunction pushed down). Pinned
    scoring: pf counts positions where the FIXED tokens match consecutively
    and the next token is any expansion; idf_sum sums over the distinct
    FIXED terms only (a prefix is not a term — its idf is undefined; ES's
    own multi-term blending is version-dependent). Exactness is the same
    bound as above, now vs the fixed-terms-conjunctive coarse search: the
    expansion slot only restricts, so pf <= tf of every fixed term. A bare
    one-token prefix degrades to bool-OR BM25 over its expansions (ES's
    single-position rewrite); a prefix with no dictionary expansion
    matches nothing.

    On an ANALYZER-configured index (IndexConfig stopwords/stem) the
    phrase text analyzes exactly like the postings did: stopwords leave
    the phrase (so "call the tool" phrase-matches "call tool" — the
    pinned position semantics; ES's position-increment gaps are pinned
    out, see analyze_tokens), tokens stem to dictionary surface forms,
    and the positional verify reads the ANALYZED document stream. Under
    ``last_prefix`` the (analyzed) last token matches as a verbatim
    prefix of the analyzed dictionary.

    ``slop`` (int or {qid: int}) is ES ``match_phrase`` proximity, with a
    PINNED simplification of Lucene's SloppyPhraseScorer (documented, both
    engines recompute it identically): a match is an IN-ORDER occurrence —
    a start position i where the first phrase token sits at i and the
    remaining tokens follow as a subsequence within total inserted gap <=
    slop (window span <= L + slop). No reordering (Lucene admits
    transposed terms at edit cost 2 — pinned out). Matching per start is
    GREEDY-LEFTMOST, which both decides existence within the window and
    yields the minimal span, so the per-match weight 1/(gap+1) — Lucene's
    1/(slop-distance+1) weighting — is deterministic; the sloppy phrase
    frequency is the weight sum over match starts, CAPPED at the minimum
    tf among the phrase's distinct terms. The cap is what keeps the
    two-stage deepening exact (phrase score <= idf_sum * sat(min_tf) <=
    the coarse all-terms BM25 sum, term by term); it binds only in
    degenerate self-overlap cases ('a a a b' vs "a b"~2, where distinct
    starts reuse the same trailing token). slop=0 reduces exactly to the
    consecutive semantics above. Not combinable with ``last_prefix``
    (raises — ES's own prefix slop interactions are version-dependent;
    pinned out rather than approximated).
    """
    if isinstance(queries, DataFrame):
        qlist = [(r["qid"], r["text"], r["k"])
                 for r in queries.select("qid", "text", "k").collect()]
    else:
        qlist = list(queries)

    def _slop_of(qid: int) -> int:
        s = slop.get(qid, 0) if isinstance(slop, dict) else slop
        return int(s)

    _slop_all = (list(slop.values()) if isinstance(slop, dict) else [slop])
    for s in _slop_all:
        if int(s) < 0:
            raise ValueError(f"slop must be >= 0 (got {s})")
    sloppy = any(int(s) > 0 for s in _slop_all)
    if sloppy and last_prefix:
        raise ValueError(
            "slop is not supported with match_phrase_prefix (pinned out; "
            "see docstring)")
    meta, _d, terms_df, _p = load_index(spark, index_dir)
    # the index's analyzer chain applies to phrase text exactly as it
    # applied to the postings: stopwords leave the phrase (so "call the
    # tool" phrase-matches "call tool" on a stopword index — the pinned
    # position semantics of analyze_tokens) and tokens stem to the
    # dictionary's surface forms; the verify below reads the ANALYZED
    # document token stream. Tokens whose analyzed form is itself a
    # stopword (a stem landing on a stopword, e.g. 'as'->'a') are dropped
    # too, so the coarse search — which re-analyzes the joined tokens,
    # idempotent for stemming — agrees with the verify's term set.
    _astop, _astem, _asyn = _meta_analyzer(meta)
    phrases = {
        int(q): [t for t in tokenize_py(t_, _astop, _astem, _asyn)
                 if t not in _astop]
        for q, t_, _k in qlist
    }
    fixed = dict(phrases)
    exps: dict[int, list[str]] = {}
    if last_prefix:
        by_pfx = _prefix_expansions(
            terms_df,
            sorted({phrases[int(q)][-1] for q, _t, _k in qlist
                    if phrases[int(q)]}),
            max_expansions,
        )
        for q, _t, _k in qlist:
            qi = int(q)
            if phrases[qi]:
                fixed[qi] = phrases[qi][:-1]
                exps[qi] = by_pfx.get(phrases[qi][-1], [])
    singles, multi = [], []
    for q, t, k in qlist:
        qi = int(q)
        if not phrases[qi]:
            continue
        if last_prefix:
            if not exps[qi]:
                continue  # no dictionary expansion -> nothing can match
            if len(phrases[qi]) == 1:
                singles.append((qi, " ".join(exps[qi]), k))
            else:
                multi.append((q, t, k))
        elif len(phrases[qi]) == 1:
            singles.append((q, t, k))
        else:
            multi.append((q, t, k))
    parts: list[DataFrame] = []
    if singles:
        parts.append(search(spark, index_dir, singles, strategy=strategy))
    pending = {int(q): (t, int(k)) for q, t, k in multi if int(k) > 0}
    msm = {q: len(set(fixed[q])) for q in pending}
    avgdl = float(meta["avgdl"])
    text_col = (meta.get("text_col") or "text")
    docs = spark.read.parquet(os.path.join(index_dir, "docs")) \
        .select("docID", F.col(text_col).alias("text"), "doclen")
    # distinct-term idf totals per phrase (tiny: query terms only)
    all_toks = sorted({t for q in pending for t in fixed[q]})
    idf_of = {
        r["term"]: float(r["idf"])
        for r in terms_df.where(F.col("term").isin(all_toks))
        .select("term", "idf").collect()
    } if all_toks else {}
    out: list = []
    K = {q: max(64, 4 * k) for q, (_t, k) in pending.items()}
    while pending:
        res = search(
            spark, index_dir,
            [(q, " ".join(fixed[q]), K[q]) for q in pending],
            strategy=strategy, min_should_match=msm,
        )
        phr = spark.createDataFrame(
            [(q, fixed[q], len(fixed[q]),
              sum(idf_of.get(t, 0.0) for t in set(fixed[q])),
              exps.get(q, []), _slop_of(q), sorted(set(fixed[q])))
             for q in pending],
            "qid long, phr array<string>, L int, idf_sum double, "
            "exps array<string>, slop int, dterms array<string>",
        )
        cand = res.withColumnRenamed("score", "cscore") \
            .join(F.broadcast(phr), "qid")
        toks = tokens_expr(F.col("text"), tuple(_astop), _astem, _asyn)
        if sloppy:
            pf = _sloppy_pf(toks)
        elif last_prefix:
            # fixed run at i, then any expansion at i+L
            pf = F.when(
                F.size(toks) > F.col("L"),
                F.size(F.filter(
                    F.sequence(F.lit(1), F.size(toks) - F.col("L")),
                    lambda i: (F.slice(toks, i, F.col("L")) == F.col("phr"))
                    & F.array_contains(
                        F.col("exps"),
                        F.element_at(toks, (i + F.col("L")).cast("int")),
                    ),
                )),
            ).otherwise(F.lit(0))
        else:
            pf = F.when(
                F.size(toks) >= F.col("L"),
                F.size(F.filter(
                    F.sequence(F.lit(1), F.size(toks) - F.col("L") + 1),
                    lambda i: F.slice(toks, i, F.col("L")) == F.col("phr"),
                )),
            ).otherwise(F.lit(0))
        ver = (
            docs.join(F.broadcast(cand), "docID")  # one corpus scan, no shuffle
            .withColumn("pf", pf)
            .where(F.col("pf") > 0)
            .select(
                "qid", "docID", "cscore",
                (F.col("idf_sum") * scoring.tf_part_col(
                    F.col("pf"), F.col("doclen"), avgdl)).alias("score"),
            )
        )
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docID"))
        vr = ver.withColumn("rank", F.row_number().over(w))
        kdf_all = spark.createDataFrame(
            [(q, pending[q][1]) for q in pending], "qid long, k int")
        # per-qid wave stats: verified count, k-th verified phrase score,
        # candidate count and page-minimum coarse score — all k/K-bounded
        got = {r["qid"]: (r["nv"], r["pk"]) for r in
               vr.join(F.broadcast(kdf_all), "qid")
               .groupBy("qid").agg(
                   F.max("rank").alias("nv"),
                   F.min(F.when(F.col("rank") <= F.col("k"),
                                F.col("score"))).alias("pk"),
               ).collect()}
        cstat = {r["qid"]: (r["nc"], r["smin"]) for r in
                 res.groupBy("qid").agg(
                     F.count(F.lit(1)).alias("nc"),
                     F.min("score").alias("smin"),
                 ).collect()}
        done = []
        for q, (_t, k) in pending.items():
            nv, pk = got.get(q, (0, None))
            nc, smin = cstat.get(q, (0, None))
            exhausted = nc < K[q]
            settled = nv >= k and pk is not None and smin is not None \
                and pk > smin
            if exhausted or settled:
                done.append(q)
            elif K[q] >= deepen_cap:
                raise RuntimeError(
                    f"phrase_search qid {q}: > {deepen_cap} all-terms "
                    "candidates without a settled top-k page — raise "
                    "deepen_cap or tighten the phrase"
                )
            else:
                K[q] = min(K[q] * 4, deepen_cap)
        if done:
            kdf = spark.createDataFrame(
                [(q, pending[q][1]) for q in done], "qid long, k int")
            out.extend(
                vr.join(F.broadcast(kdf), "qid")
                .where(F.col("rank") <= F.col("k"))
                .select("qid", "rank", "docID", "score")
                .collect()
            )
            for q in done:
                del pending[q]
    parts.append(spark.createDataFrame(
        out, "qid long, rank int, docID long, score double"
    ))
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


def _prefix_expansions(
    terms_df: DataFrame,
    prefixes: list[str],
    max_expansions: int,
) -> dict[str, list[str]]:
    """First ``max_expansions`` dictionary terms per prefix, term-ASC —
    the deterministic truncation both the engine and the ANSI-SQL oracle
    pin. One vocabulary-dictionary scan with the StartsWith disjunction
    pushed to the parquet scan (same shape as :func:`suggest_terms`);
    the collect is bounded by len(prefixes) * max_expansions."""
    if not prefixes:
        return {}
    spark = terms_df.sparkSession
    pdf = spark.createDataFrame([(p,) for p in prefixes], "prefix string")
    cond = None
    for p in prefixes:
        c = F.col("term").startswith(p)
        cond = c if cond is None else (cond | c)
    w = Window.partitionBy("prefix").orderBy(F.asc("term"))
    rows = (
        terms_df.where(cond)
        .join(F.broadcast(pdf), F.col("term").startswith(F.col("prefix")))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(max_expansions))
        .select("prefix", "term")
        .collect()
    )
    out: dict[str, list[str]] = {}
    for r in rows:
        out.setdefault(r["prefix"], []).append(r["term"])
    for v in out.values():
        v.sort()
    return out


def phrase_prefix_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]] | DataFrame,
    strategy: str = "wand",
    deepen_cap: int = 1 << 22,
    max_expansions: int = 50,
) -> DataFrame:
    """ES ``match_phrase_prefix``: the query's last token is a prefix,
    dictionary-expanded (term-ASC, capped at ``max_expansions`` — ES's
    default 50 and its silent deterministic truncation), the rest must
    match consecutively just before it. See :func:`phrase_search`
    (``last_prefix``) for scoring, the two-stage exactness bound, and the
    bare-prefix degradation."""
    return phrase_search(
        spark, index_dir, queries, strategy=strategy,
        deepen_cap=deepen_cap, last_prefix=True,
        max_expansions=max_expansions,
    )


def postings_docids(spark: SparkSession, index_dir: str,
                    term_ids: list[int] | None,
                    with_tf: bool = False) -> DataFrame:
    """Decode the posting blocks of ``term_ids`` into flat (termID, docID)
    rows — the distributed "which docs contain these terms" primitive.
    ``term_ids=None`` decodes EVERY term: the index's own distinct
    (term, doc) incidence table (one posting per pair by construction) —
    feed it to ``aggs.significant_terms`` as the ``doc_terms`` side instead
    of re-tokenizing the corpus; the decode is postings-I/O-bound, which is
    far cheaper than an explode + corpus-wide DISTINCT shuffle.
    ``with_tf=True`` also emits each posting's (tf, doclen) — the raw
    material of a score explanation (see :func:`explain_score`).

    Scale shape: the termID IN (...) predicate pushes into the parquet scan
    (row-group pruning on the termID sort), and decode runs whole-batch
    inside ``mapInArrow`` — output stays distributed, never collected. The
    batch's blobs concatenate zero-copy (an Arrow binary array lays its
    values end-to-end), so one ``decode_runs_concat`` call replaces a
    per-block Python loop — the Zipf tail makes the median block ~4
    postings, and a loop over millions of tiny blocks costs more than the
    decode itself (measured 22 s -> 6 s for the full 75M-posting incidence
    decode of the 1.68M-turn scale tier, BENCH.md).
    """
    _meta, _docs, _terms, postings = load_index(spark, index_dir)
    if term_ids is None:
        posts = postings
    else:
        posts = postings.where(F.col("termID").isin([int(t) for t in term_ids]))

    def explode_blocks(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            tids = b.column(b.schema.get_field_index("termID")).to_numpy()
            ns = b.column(b.schema.get_field_index("n")).to_numpy() \
                .astype(np.int64, copy=False)
            blob = b.column(b.schema.get_field_index("blob"))
            # zero-copy concat: values of a binary array are contiguous, so
            # the bytes between the first and last offsets ARE the blobs
            # back-to-back (same buffer-slice scheme as _blob_views)
            offs = np.frombuffer(blob.buffers()[1], dtype=np.int32)
            data = memoryview(blob.buffers()[2])
            buf = data[offs[blob.offset]: offs[blob.offset + len(blob)]]
            doc, tf, dl, _rs = codec.decode_runs_concat(buf, ns)
            arrays = [pa.array(np.repeat(tids.astype(np.int64), ns)),
                      pa.array(doc)]
            names = ["termID", "docID"]
            if with_tf:
                arrays += [pa.array(tf), pa.array(dl)]
                names += ["tf", "doclen"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    schema = "termID long, docID long" + (
        ", tf int, doclen int" if with_tf else "")
    return posts.mapInArrow(explode_blocks, schema)


def explain_score(
    spark: SparkSession,
    index_dir: str,
    text: str,
    doc_ids: list[int],
) -> DataFrame:
    """ES ``_explain``: the per-term BM25 breakdown of ``text``'s score for
    specific documents, reconstructed from the INDEX's own postings (not by
    re-tokenizing the corpus — an explanation must describe what the engine
    actually scored). Duplicate query tokens count once, absent tokens
    contribute no rows, docs not containing a term get no row for it; the
    sum of ``contribution`` over a doc's rows IS its ``search`` score,
    bit-compatible (same idf * tf_part formula, float64).

    Scale shape: a point lookup — the query terms' postings scan with the
    termID IN pushdown, a docID-membership filter at the decode boundary's
    output, one broadcast of the tiny (term, idf) map. Returns
    (docID, term, tf, doclen, idf, contribution) ordered by
    (docID, termID).
    """
    meta, _docs, terms_df, _p = load_index(spark, index_dir)
    avgdl = float(meta["avgdl"])
    toks = sorted(set(tokenize_py(text, *_meta_analyzer(meta))))
    resolved = terms_df.where(F.col("term").isin(toks)) \
        .select("term", "termID", "idf").collect() if toks else []
    if not resolved or not doc_ids:
        return spark.createDataFrame(
            [], "docID long, term string, tf int, doclen int, "
                "idf double, contribution double")
    tid_term = {int(r["termID"]): (r["term"], float(r["idf"])) for r in resolved}
    tdf = spark.createDataFrame(
        [(tid, t, idf) for tid, (t, idf) in tid_term.items()],
        "termID long, term string, idf double")
    rows = postings_docids(spark, index_dir, sorted(tid_term), with_tf=True) \
        .where(F.col("docID").isin([int(d) for d in doc_ids]))
    return (
        rows.join(F.broadcast(tdf), "termID")
        .select(
            "docID", "term", "tf", "doclen", "idf",
            (F.col("idf") * scoring.tf_part_col(
                F.col("tf"), F.col("doclen"), avgdl)).alias("contribution"),
        )
        .orderBy("docID", "term")
    )


def bool_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]] | DataFrame,
    must_not: str | dict[int, str],
    strategy: str = "wand",
    deepen_cap: int = 1 << 22,
    boosts: dict[int, dict[str, float]] | None = None,
) -> DataFrame:
    """ES ``bool`` with ``must_not``: BM25 OR scoring of ``queries`` with
    documents containing ANY excluded term removed — non-scoring exclusion,
    corpus-wide statistics untouched (ES must_not runs in filter context).

    ``must_not``: token text of excluded terms, one string for all queries
    or per-qid ``{qid: text}`` (qids absent from the dict exclude nothing).

    Two-stage, the coarse-then-verify shape the reference uses throughout
    (`/root/reference/dh/app/es_requests.py`): the coarse stage is plain
    :func:`search` at candidate depth K; the verify stage removes denied
    docs with a two-step anti-join built to scale — the deny set (decoded
    from the excluded terms' own posting lists via
    :func:`postings_docids`, distributed) is first SEMI-joined against the
    broadcast K-bounded candidate set (one map-side pass over the deny
    postings, no shuffle of them), leaving <= |candidates| surviving deny
    rows, which then broadcast into the LEFT ANTI join. Exclusion only
    removes candidates, so verified top-k in coarse order is exact; K
    quadruples while a query has fewer than k survivors and candidates
    remain (iterative deepening, log-bounded, ``deepen_cap``-guarded).
    Excluded tokens absent from the vocabulary exclude nothing. Returns
    (qid, rank, docID, score) with ranks over the surviving docs.
    """
    if isinstance(queries, DataFrame):
        qlist = [(r["qid"], r["text"], r["k"])
                 for r in queries.select("qid", "text", "k").collect()]
    else:
        qlist = list(queries)
    _meta, _docs, terms_df, _p = load_index(spark, index_dir)
    if isinstance(must_not, str):
        mn = {int(q): must_not for q, _t, _k in qlist}
    else:
        mn = {int(q): t for q, t in must_not.items()}
    # must_not clauses analyze with the index's analyzer, like ES field
    # analysis: a stopword exclusion excludes nothing (it indexes nothing)
    toks_by_qid = {q: tokenize_py(t, *_meta_analyzer(_meta))
                   for q, t in mn.items()}
    all_toks = sorted({t for toks in toks_by_qid.values() for t in toks})
    tid_of = {
        r["term"]: int(r["termID"])
        for r in terms_df.where(F.col("term").isin(all_toks))
        .select("term", "termID").collect()
    } if all_toks else {}
    qex = [(q, tid_of[t]) for q, toks in toks_by_qid.items()
           for t in set(toks) if t in tid_of]
    if not qex:
        return search(spark, index_dir, qlist, strategy=strategy, boosts=boosts)
    deny_ids = sorted({tid for _q, tid in qex})
    qex_df = spark.createDataFrame(qex, "qid long, termID long")
    # the (qid, docID) deny side depends only on the excluded terms, not on
    # the candidate page — build it ONCE outside the deepening loop; only
    # the semi-join against the current page belongs inside. On the rare
    # second wave it is persisted so later waves reuse the decoded postings
    # instead of re-running the excluded terms' block decode per round.
    deny_all = (
        postings_docids(spark, index_dir, deny_ids)
        .join(F.broadcast(qex_df), "termID")
        .select("qid", "docID")
    )
    deny_persisted = False
    pending = {int(q): (t, int(k)) for q, t, k in qlist if int(k) > 0}
    K = {q: max(64, 4 * k) for q, (_t, k) in pending.items()}
    out: list = []
    first_wave = True
    while pending:
        if not first_wave and not deny_persisted:
            deny_all = deny_all.persist()
            deny_persisted = True
        res = search(
            spark, index_dir,
            [(q, t, K[q]) for q, (t, _k) in pending.items()],
            strategy=strategy, boosts=boosts,
        )
        first_wave = False
        hits = res.select("qid", "docID")
        deny_hit = deny_all.join(F.broadcast(hits), ["qid", "docID"], "left_semi")
        ver = res.join(F.broadcast(deny_hit), ["qid", "docID"], "left_anti")
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docID"))
        vr = ver.withColumn("rank", F.row_number().over(w))
        got = {r["qid"]: r["nv"] for r in
               vr.groupBy("qid").agg(F.max("rank").alias("nv")).collect()}
        ncand = {r["qid"]: r["nc"] for r in
                 res.groupBy("qid").agg(F.count(F.lit(1)).alias("nc")).collect()}
        done = []
        for q, (_t, k) in pending.items():
            if got.get(q, 0) >= k or ncand.get(q, 0) < K[q]:
                done.append(q)
            elif K[q] >= deepen_cap:
                raise RuntimeError(
                    f"bool_search qid {q}: > {deepen_cap} candidates without "
                    "k surviving docs — raise deepen_cap or relax must_not"
                )
            else:
                K[q] = min(K[q] * 4, deepen_cap)
        if done:
            kdf = spark.createDataFrame(
                [(q, pending[q][1]) for q in done], "qid long, k int")
            out.extend(
                vr.join(F.broadcast(kdf), "qid")
                .where(F.col("rank") <= F.col("k"))
                .select("qid", "rank", "docID", "score")
                .collect()
            )
            for q in done:
                del pending[q]
    if deny_persisted:
        deny_all.unpersist()
    return spark.createDataFrame(
        out, "qid long, rank int, docID long, score double"
    )


def boosting_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]] | DataFrame,
    negative: str | dict[int, str],
    negative_boost: float = 0.5,
    strategy: str = "wand",
    deepen_cap: int = 1 << 22,
) -> DataFrame:
    """ES ``boosting`` query: positive BM25 OR scoring with docs matching
    the negative term set DEMOTED, not removed — final score = positive
    score * ``negative_boost`` for any doc containing >= 1 negative term
    (multiplied ONCE on membership, regardless of how many negative terms
    match — ES semantics), ranked (final DESC, docID ASC).

    ``negative``: token text, one string for all queries or per-qid
    ``{qid: text}``; tokens absent from the vocabulary demote nothing.

    Two-stage exactness: demotion only shrinks scores and negative_boost
    <= 1, so an unseen doc's final score <= its positive score <= s_min,
    the page's minimum positive score. The K-page is settled once its k-th
    demoted-aware score is STRICTLY above s_min (a tie must deepen: an
    unseen doc could tie and win the docID tie-break) or the candidate
    ranking is exhausted; otherwise K quadruples (iterative deepening,
    log-bounded, ``deepen_cap``-guarded). The demote set decodes from the
    negative terms' own posting lists (:func:`postings_docids`) ONCE,
    outside the loop — inside it only the semi-join against the broadcast
    K-bounded page runs, so the demote postings are never shuffled.
    """
    if not (0.0 < float(negative_boost) <= 1.0):
        raise ValueError("negative_boost must be in (0, 1]")
    if isinstance(queries, DataFrame):
        qlist = [(r["qid"], r["text"], r["k"])
                 for r in queries.select("qid", "text", "k").collect()]
    else:
        qlist = list(queries)
    _meta, _docs, terms_df, _p = load_index(spark, index_dir)
    if isinstance(negative, str):
        ng = {int(q): negative for q, _t, _k in qlist}
    else:
        ng = {int(q): t for q, t in negative.items()}
    # negative clauses analyze with the index's analyzer (see bool_search)
    toks_by_qid = {q: tokenize_py(t, *_meta_analyzer(_meta))
                   for q, t in ng.items()}
    all_toks = sorted({t for toks in toks_by_qid.values() for t in toks})
    tid_of = {
        r["term"]: int(r["termID"])
        for r in terms_df.where(F.col("term").isin(all_toks))
        .select("term", "termID").collect()
    } if all_toks else {}
    qex = [(q, tid_of[t]) for q, toks in toks_by_qid.items()
           for t in set(toks) if t in tid_of]
    if not qex:
        return search(spark, index_dir, qlist, strategy=strategy)
    neg_ids = sorted({tid for _q, tid in qex})
    qex_df = spark.createDataFrame(qex, "qid long, termID long")
    neg_all = (
        postings_docids(spark, index_dir, neg_ids)
        .join(F.broadcast(qex_df), "termID")
        .select("qid", "docID")
    )
    neg_persisted = False
    pending = {int(q): (t, int(k)) for q, t, k in qlist if int(k) > 0}
    K = {q: max(64, 4 * k) for q, (_t, k) in pending.items()}
    out: list = []
    first_wave = True
    boost = float(negative_boost)
    while pending:
        if not first_wave and not neg_persisted:
            neg_all = neg_all.persist()
            neg_persisted = True
        res = search(
            spark, index_dir,
            [(q, t, K[q]) for q, (t, _k) in pending.items()],
            strategy=strategy,
        )
        first_wave = False
        hits = res.select("qid", "docID")
        # distinct: neg_all carries one row per (negative term, doc) — a doc
        # matching two negative terms must demote ONCE, and the left join
        # below would otherwise duplicate the candidate row. Page-bounded.
        neg_hit = (
            neg_all.join(F.broadcast(hits), ["qid", "docID"], "left_semi")
            .distinct()
            .withColumn("_neg", F.lit(1))
        )
        ver = (
            res.join(F.broadcast(neg_hit), ["qid", "docID"], "left")
            .withColumn(
                "final",
                F.when(F.col("_neg").isNotNull(),
                       F.col("score") * F.lit(boost))
                .otherwise(F.col("score")),
            )
        )
        w = Window.partitionBy("qid").orderBy(F.desc("final"), F.asc("docID"))
        vr = ver.withColumn("rank", F.row_number().over(w))
        kdf_all = spark.createDataFrame(
            [(q, pending[q][1]) for q in pending], "qid long, k int")
        stat = {r["qid"]: (r["nc"], r["fk"], r["smin"]) for r in
                vr.join(F.broadcast(kdf_all), "qid")
                .groupBy("qid").agg(
                    F.count(F.lit(1)).alias("nc"),
                    F.min(F.when(F.col("rank") <= F.col("k"),
                                 F.col("final"))).alias("fk"),
                    F.min("score").alias("smin"),
                ).collect()}
        done = []
        for q, (_t, k) in pending.items():
            nc, fk, smin = stat.get(q, (0, None, None))
            exhausted = nc < K[q]
            settled = nc >= k and fk is not None and smin is not None \
                and fk > smin
            if exhausted or settled:
                done.append(q)
            elif K[q] >= deepen_cap:
                raise RuntimeError(
                    f"boosting_search qid {q}: > {deepen_cap} candidates "
                    "without a settled top-k page — raise deepen_cap or "
                    "raise negative_boost"
                )
            else:
                K[q] = min(K[q] * 4, deepen_cap)
        if done:
            kdf = spark.createDataFrame(
                [(q, pending[q][1]) for q in done], "qid long, k int")
            out.extend(
                vr.join(F.broadcast(kdf), "qid")
                .where(F.col("rank") <= F.col("k"))
                .select("qid", "rank", "docID",
                        F.col("final").alias("score"))
                .collect()
            )
            for q in done:
                del pending[q]
    if neg_persisted:
        neg_all.unpersist()
    return spark.createDataFrame(
        out, "qid long, rank int, docID long, score double"
    )


def dis_max(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]] | DataFrame,
    strategy: str = "wand",
) -> DataFrame:
    """ES ``dis_max`` (tie_breaker = 0, the default): a doc scores the MAX
    of its per-term BM25 contributions instead of the sum — "best single
    clause wins" semantics.

    Exact by per-term composition, no kernel change: each distinct query
    term runs as its own single-term top-k search (the kernel's cheapest
    regime — pure impact order, hard pruning), then max-per-doc + top-k.
    Containment proof: under the pinned total order (score DESC, docID
    ASC), any doc in the global top-k under max-scoring is also in its
    best term's single-term top-k — every doc ranked above it there has a
    per-term score that IS a lower bound of its own max, so it outranks it
    globally too; there are < k of those. Hence the union of per-term
    top-k lists contains the answer, no deepening needed.

    Scale shape: m single-term searches batch into ONE kernel pass (they
    travel as separate qids in the same job); the union is k*m rows per
    query — top-k-bounded — and the max + re-rank is one tiny aggregation.
    ES's tie_breaker > 0 variant (max + tb * sum of the rest) breaks the
    containment bound and is not offered. Returns (qid, rank, docID,
    score).
    """
    if isinstance(queries, DataFrame):
        qlist = [(r["qid"], r["text"], r["k"])
                 for r in queries.select("qid", "text", "k").collect()]
    else:
        qlist = list(queries)
    sub: list[tuple[int, str, int]] = []
    mapping: list[tuple[int, int]] = []
    i = 0
    for qid, text, k in qlist:
        for t in sorted(set(tokenize_py(text))):
            sub.append((i, t, int(k)))
            mapping.append((i, int(qid)))
            i += 1
    if not sub:
        return spark.createDataFrame(
            [], "qid long, rank int, docID long, score double")
    res = search(spark, index_dir, sub, strategy=strategy)
    mdf = spark.createDataFrame(mapping, "sqid long, qid long")
    kdf = spark.createDataFrame(
        [(int(q), int(k)) for q, _t, k in qlist], "qid long, k int")
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docID"))
    return (
        res.withColumnRenamed("qid", "sqid")
        .join(F.broadcast(mdf), "sqid")
        .groupBy("qid", "docID")
        .agg(F.max("score").alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(kdf), "qid")
        .where(F.col("rank") <= F.col("k"))
        .select("qid", "rank", "docID", "score")
    )


def multi_search(
    spark: SparkSession,
    indexes: dict[str, str],
    queries: list[tuple[int, str, int]] | DataFrame,
    id_col: str = "doc_id",
    strategy: str = "wand",
    deepen_cap: int = 1 << 22,
) -> DataFrame:
    """ES ``multi_match`` with ``best_fields`` (the default type): the same
    query runs against one index PER FIELD and a doc scores the MAX over
    fields — "the field that matches best wins". ``indexes`` maps field
    name -> index directory (each built over that field's text, e.g.
    ``{"text": ..., "role": ...}`` for a transcript corpus); results
    combine on the source key ``id_col`` because every index assigns its
    own docID space.

    Exact with per-field depth k by the containment argument of
    :func:`dis_max` — a doc in the global top-k under max-scoring is in
    its best field's top-k — EXCEPT at exact score ties crossing a
    per-field depth boundary: the per-field tie-break is field-local docID
    ASC (an impact-ordered, index-private numbering) while the global
    tie-break is ``id_col`` ASC, so a tie group straddling rank k in one
    field can be cut in an order that differs from the global one. That
    case is detected and repaired by iterative deepening: after composing
    the global page, any (field, qid) whose fetch was NOT exhausted and
    whose boundary (minimum fetched) score still ties-or-beats the k-th
    global score gets refetched 4x deeper, until every live boundary is
    strictly below the k-th global score — at which point no unfetched doc
    (all of which score <= the boundary in that field) can enter the
    page, ties included. The no-tie case pays one tiny extra aggregation
    and no second kernel pass. Per-field statistics stay per-field
    (field-local N, avgdl, df — ES behaves the same way: each field is
    its own Lucene inverted index).

    Scale shape: one kernel pass per field per wave (fields are few, a
    second wave needs an exact float tie at the boundary), a top-k-bounded
    union, one tiny max + re-rank aggregation. Returns
    (qid, rank, <id_col>, score).
    """
    if not indexes:
        raise ValueError("indexes must map at least one field to an index dir")
    if isinstance(queries, DataFrame):
        qlist = [(r["qid"], r["text"], r["k"])
                 for r in queries.select("qid", "text", "k").collect()]
    else:
        qlist = list(queries)
    qtext = {int(q): t for q, t, _k in qlist}
    kof = {int(q): int(k) for q, _t, k in qlist}
    fields = sorted(indexes.items())
    K = {q: k for q, k in kof.items() if k > 0}
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc(id_col))
    final: list = []
    out_schema = None
    while K:
        kdf = spark.createDataFrame(
            [(q, kof[q]) for q in sorted(K)], "qid long, k int")
        parts = []
        for _field, idx in fields:
            res = search(spark, idx,
                         [(q, qtext[q], K[q]) for q in sorted(K)],
                         strategy=strategy)
            docs = spark.read.parquet(os.path.join(idx, "docs")) \
                .select("docID", id_col)
            # hit side is k-bounded — broadcast it against the corpus-sized
            # id map explicitly rather than relying on AQE
            parts.append(
                F.broadcast(res).join(docs, "docID")
                .select("qid", id_col, "score",
                        F.lit(_field).alias("field"),
                        F.col("rank").alias("frank"))
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u = u.persist()
        try:
            out = (
                u.groupBy("qid", id_col)
                .agg(F.max("score").alias("score"))
                .withColumn("rank", F.row_number().over(w))
                .join(F.broadcast(kdf), "qid")
                .where(F.col("rank") <= F.col("k"))
                .select("qid", "rank", id_col, "score")
            )
            if out_schema is None:
                out_schema = out.schema
            rows = out.collect()
            # boundary audit: per (field, qid) — rows fetched and minimum
            # fetched score; a fetch shorter than K is exhausted (no
            # unfetched doc matches at all in that field)
            bnd = {(r["field"], r["qid"]): (r["nf"], r["smin"]) for r in
                   u.groupBy("field", "qid")
                   .agg(F.max("frank").alias("nf"), F.min("score").alias("smin"))
                   .collect()}
        finally:
            u.unpersist()
        # k-th (= last returned) global score per qid: the bar an unfetched
        # doc would have to tie-or-beat to enter the page
        gk: dict[int, float] = {}
        last_rank: dict[int, int] = {}
        for r in rows:
            if r["rank"] > last_rank.get(r["qid"], 0):
                last_rank[r["qid"]] = r["rank"]
                gk[r["qid"]] = r["score"]
        deeper = set()
        for (_fld, q), (nf, smin) in bnd.items():
            if q in K and nf >= K[q] and smin >= gk.get(q, float("-inf")):
                if K[q] >= deepen_cap:
                    raise RuntimeError(
                        f"multi_search qid {q}: boundary tie persists past "
                        f"{deepen_cap} per-field candidates — raise deepen_cap")
                deeper.add(q)
        final.extend(r for r in rows if r["qid"] not in deeper)
        K = {q: min(K[q] * 4, deepen_cap) for q in deeper}
    if out_schema is None:
        return spark.createDataFrame(
            [], f"qid long, rank int, {id_col} string, score double")
    return spark.createDataFrame(final, out_schema)


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    seeds: list[tuple[int, object, int]],
    id_col: str = "doc_id",
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
    strategy: str = "wand",
) -> DataFrame:
    """ES ``more_like_this``: for each seed document, retrieve the top-k
    documents most similar to it under BM25 — the text analogue of the
    reference's query-by-example image search (``dh/app/main.py:52-76``:
    the query IS a document, features are extracted from it, then the
    two-stage engine runs).

    ``seeds``: [(qid, seed_id, k)] on the index's ``id_col`` key.

    Term selection (ES's ``max_query_terms`` rewrite, made deterministic):
    from the seed's own stored token stream, keep terms with
    tf >= ``min_term_freq`` and df >= ``min_doc_freq``, rank by
    tf * idf (6dp-rounded, term-ASC tie-break), take the top
    ``max_query_terms``. The selected terms then run as an ordinary OR
    query through :func:`search` — every pruning bound holds unchanged —
    at depth k+1, and the seed itself is removed from its result list
    (ES ``include: false``): the true top-k excluding the seed is always
    contained in the top-(k+1) including it.

    Scale shape: seed rows come off the index's docs table under a
    pushed-down IN filter (request-sized); token explosion + tf count is
    JVM ``tokens_expr``; the idf join hits the vocabulary-sized term
    dictionary (dimension table). The collect is bounded by
    len(seeds) * max_query_terms. Returns (qid, rank, docID, score).
    """
    if not seeds:
        return spark.createDataFrame(
            [], "qid long, rank int, docID long, score double")
    meta, _docs, terms_df, _p = load_index(spark, index_dir)
    text_col = meta.get("text_col") or "text"
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    seed_df = spark.createDataFrame(
        [(int(q), s) for q, s, _k in seeds],
        T.StructType([
            T.StructField("qid", T.LongType(), False),
            docs.schema[id_col],
        ]),
    )
    seed_tf = (
        docs.join(F.broadcast(seed_df.select(id_col).distinct()), id_col)
        .select(id_col, F.explode(tokens_expr(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .where(F.col("tf") >= int(min_term_freq))
        .join(terms_df.select("term", "df", "idf"), "term")
        .where(F.col("df") >= int(min_doc_freq))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc(F.round(F.col("tf") * F.col("idf"), 6)), F.asc("term"))
    sel = (
        seed_tf.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= int(max_query_terms))
        .select(id_col, "term", "_rn")
        .collect()
    )
    terms_by_seed: dict = {}
    for r in sorted(sel, key=lambda r: (str(r[id_col]), r["_rn"])):
        terms_by_seed.setdefault(r[id_col], []).append(r["term"])
    qlist = [
        (int(q), " ".join(terms_by_seed.get(s, [])), int(k) + 1)
        for q, s, k in seeds
        if terms_by_seed.get(s)
    ]
    if not qlist:
        return spark.createDataFrame(
            [], "qid long, rank int, docID long, score double")
    res = search(spark, index_dir, qlist, strategy=strategy)
    if id_col == "docID":
        seed_doc = seed_df.select("qid", F.col("docID").alias("_seedDocID"))
    else:
        seed_doc = seed_df.join(docs.select(id_col, "docID"), id_col) \
            .select("qid", F.col("docID").alias("_seedDocID"))
    kdf = spark.createDataFrame(
        [(int(q), int(k)) for q, _s, k in seeds], "qid long, k int")
    w2 = Window.partitionBy("qid").orderBy(F.asc("rank"))
    return (
        res.join(F.broadcast(seed_doc), "qid", "left")
        .where(F.col("_seedDocID").isNull()
               | (F.col("docID") != F.col("_seedDocID")))
        .withColumn("rank", F.row_number().over(w2))
        .join(F.broadcast(kdf), "qid")
        .where(F.col("rank") <= F.col("k"))
        .select("qid", "rank", "docID", "score")
    )


def collapse_topk(
    results: DataFrame,
    groups: DataFrame,
    k: int,
    key_col: str = "docID",
    group_col: str = "conv_id",
    score_col=None,
    broadcast_results: bool = True,
) -> DataFrame:
    """ES field-collapsing analogue (`collapse` on the reference's ES side):
    one result per group — its best-scoring member under the pinned
    (score DESC, key ASC) order — with groups ranked by that best member.
    For transcripts: top-k CONVERSATIONS, each represented by its best turn.

    ``results``: (qid, <key_col>, score) — a turn-level result set (e.g.
    ``search(...)``). ``groups``: (<key_col>, <group_col>) mapping, e.g.
    ``docs.select("docID", "conv_id")``. ``score_col``: optional Column to
    rank by instead of raw ``score`` (the suite passes a rounded score for
    engine-independent comparison).

    Exactness contract (the same one ES documents for collapse): the
    collapse is exact WITH RESPECT TO the turn-level result set it is
    given — a group whose best member fell below the turn-level cutoff
    cannot appear. Pass a full ranking (k' = corpus) for globally exact
    collapse, or overfetch k' >> k like ES users do.

    Scale: the results side is normally top-k'-bounded per query, so it
    broadcasts and the corpus-sized ``groups`` relation joins map-side —
    scanned pruned to two columns, never shuffled. If the caller passes an
    UNBOUNDED ranking (k' = corpus, as the suite's exactness oracle does),
    set ``broadcast_results=False``: the join then shuffles on the key and
    AQE picks the strategy, instead of force-broadcasting a corpus-sized
    relation."""
    s = F.col("score") if score_col is None else score_col
    rsel = results.select("qid", key_col, "score")
    j = groups.join(
        F.broadcast(rsel) if broadcast_results else rsel, key_col
    )
    w_in = Window.partitionBy("qid", group_col).orderBy(
        s.desc(), F.asc(key_col)
    )
    best = (
        j.withColumn("_rn", F.row_number().over(w_in))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    w_g = Window.partitionBy("qid").orderBy(s.desc(), F.asc(key_col))
    return (
        best.withColumn("rank", F.row_number().over(w_g))
        .where(F.col("rank") <= k)
        .select("qid", "rank", group_col, key_col, "score")
    )


def fetch_context(
    results: DataFrame,
    turns: DataFrame,
    window: int = 2,
    key_col: str = "docID",
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    payload_cols: list[str] | None = None,
    broadcast_results: bool = True,
) -> DataFrame:
    """Context-window retrieval over conversations: each hit turn returns
    WITH its surrounding turns from the same conversation (turn_idx within
    ±``window``), the transcript-native read pattern — a matched turn is
    rarely useful without what was said around it. The reference serves
    whole documents so has no analogue; for multi-turn transcripts this is
    the fetch stage that follows every ranked search.

    ``results``: a ranked hit set keyed by ``key_col`` (e.g. ``search``
    output joined back to the corpus key) — ALL its columns pass through;
    a ``conv_col``/``turn_col`` the results already carry (e.g.
    ``collapse_topk`` output) is fine — the anchor coordinates are aliased
    internally, and the context ``conv_col`` is only added when the
    results don't already have it (when they do, it is the same value —
    the anchor join keys on the hit). The reserved output names
    (``ctx_<key_col>``, ``rel_pos``, ``ctx_<payload>``) must NOT appear in
    the results — that collision raises ValueError rather than producing
    an ambiguous plan. ``turns``: the corpus-sized turn table carrying
    (``key_col``, ``conv_col``, ``turn_col``) plus any ``payload_cols`` to
    return for the context turns (returned as ``ctx_<name>``). Output adds
    ``conv_col``, ``ctx_<key_col>``, and ``rel_pos`` (context turn_idx
    minus hit turn_idx; the hit itself appears at rel_pos 0). Conversation
    edges clip naturally — no rows are fabricated beyond the first/last
    turn.

    Scale: hits are Σk-bounded per query batch, so both joins broadcast
    the hit side and the corpus-sized ``turns`` relation is scanned ONCE,
    pruned to the selected columns, never shuffled (the anchor join output
    is hit-sized, re-broadcast for the range join). For corpus-sized hit
    sets (mining sweeps) set ``broadcast_results=False``: both joins then
    shuffle on their keys and AQE picks the strategy.
    """
    payload = list(payload_cols or [])
    reserved = [f"ctx_{key_col}", "rel_pos"] + [f"ctx_{c}" for c in payload]
    clash = [c for c in reserved if c in results.columns]
    if clash:
        raise ValueError(
            f"fetch_context: results carry reserved output column(s) {clash}; "
            "rename them before the context fetch")
    # anchor: each hit's (conv, turn) coordinates — hit-sized; the
    # coordinates are aliased so results carrying their own conv/turn
    # columns never make the join ambiguous
    anchor = turns.select(
        key_col,
        F.col(conv_col).alias("_anchor_conv"),
        F.col(turn_col).alias("_anchor_turn"),
    ).join(F.broadcast(results) if broadcast_results else results, key_col)
    ctx = turns.select(
        F.col(key_col).alias(f"ctx_{key_col}"),
        F.col(conv_col).alias("_ctx_conv"),
        F.col(turn_col).alias("_ctx_turn"),
        *[F.col(c).alias(f"ctx_{c}") for c in payload],
    )
    j = ctx.join(
        F.broadcast(anchor) if broadcast_results else anchor,
        (F.col("_ctx_conv") == F.col("_anchor_conv"))
        & (F.col("_ctx_turn").between(
            F.col("_anchor_turn") - window, F.col("_anchor_turn") + window)),
    )
    conv_out = ([] if conv_col in results.columns
                else [F.col("_anchor_conv").alias(conv_col)])
    return j.select(
        *results.columns, *conv_out, f"ctx_{key_col}",
        (F.col("_ctx_turn") - F.col("_anchor_turn")).alias("rel_pos"),
        *[f"ctx_{c}" for c in payload],
    )


_ALLOW_PA_SCHEMA = pa.schema(
    [
        ("termID", pa.int64()), ("shard", pa.int32()), ("block_id", pa.int32()),
        ("n", pa.int32()), ("first_docID", pa.int64()), ("last_docID", pa.int64()),
        ("max_impact", pa.float64()), ("max_tf", pa.int32()), ("min_dl", pa.int32()),
        ("blob", pa.binary()),
    ]
)


def _allow_posts(allowed: DataFrame, num_shards: int) -> DataFrame:
    """The filter allow-sets as postings-schema sentinel rows.

    ``allowed`` is the docs stage already restricted to the queryable docs
    (filter predicate applied and/or tombstones anti-joined) — a parquet
    scan pruned to (shard, docID) plus the predicate's own columns, with
    the predicate pushed to the scan. Each shard's allowed docIDs are packed into
    sorted int64 chunks (termID = ``_ALLOW_TERM``) that shuffle WITH the
    postings through the same repartition-on-shard. The kernel therefore
    receives each shard's membership set in the very task that scores that
    shard: no broadcast of a corpus-sized structure, per-task memory bounded
    by docs-per-shard — the same envelope the shard's postings already
    occupy under the >= ~50k docs/shard sizing policy.
    """

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batch_list = list(batches)
        if not batch_list:
            return
        tbl = pa.Table.from_batches(batch_list)
        if tbl.num_rows == 0:
            return
        sh = tbl.column("shard").to_numpy()
        d = tbl.column("docID").to_numpy()
        for s in np.unique(sh):
            ds = np.sort(d[sh == s])
            for ci, off in enumerate(range(0, ds.size, _ALLOW_CHUNK)):
                c = np.ascontiguousarray(ds[off: off + _ALLOW_CHUNK])
                yield pa.RecordBatch.from_pydict(
                    {
                        "termID": [_ALLOW_TERM], "shard": [int(s)],
                        "block_id": [ci], "n": [int(c.size)],
                        "first_docID": [int(c[0])], "last_docID": [int(c[-1])],
                        "max_impact": [0.0], "max_tf": [0], "min_dl": [0],
                        "blob": [c.tobytes()],
                    },
                    schema=_ALLOW_PA_SCHEMA,
                )

    return (
        allowed.select("shard", "docID")
        .repartition(4 * num_shards, "shard")
        .mapInArrow(enc, POSTINGS_SCHEMA)
    )


def search(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame | list[tuple[int, str, int]],
    strategy: str = "wand",
    with_stats: bool = False,
    small_cutoff: int = _SMALL_TERM,
    doc_filter: str | None = None,
    boosts: dict[int, dict[str, float]] | None = None,
    min_should_match: int | dict[int, int] = 1,
    offset: int | dict[int, int] = 0,
    fuzzy: int = 0,
    fuzzy_prefix: int = 0,
    max_expansions: int = 50,
    raw_matches: bool = False,
):
    """Run top-k queries against a built index.

    Design point: the ES-analogue serving regime — request batches small
    relative to the corpus (the reference sweeps 10k queries over 7M
    docs). The query batch is collected and broadcast into the posting-scan
    kernels; that driver round-trip is the documented ceiling. For
    corpus-sized query workloads (query-by-every-document mining) use
    :func:`search_mining`, which keeps the query set in dataflow
    end-to-end and is rank-identical per query.

    ``queries``: DataFrame(qid, text, k) or a list of (qid, text, k) tuples.
    ``strategy``: 'wand' (vectorized block-max two-stage, default) or
    'exact' (decode-everything rescore — the ``es-long`` analogue used for
    economics comparisons); anything else raises ``ValueError`` at the call.
    Returns DataFrame(qid, rank, docID, score) under (score DESC, docID ASC);
    with ``with_stats`` (wand only), returns (DataFrame, stats dict) where
    stats carries the measured pruning economics (blocks_total /
    blocks_touched / candidates summed over every (query, shard) pair) — the
    quantitative form of the reference's two-stage-vs-exact comparison
    (slides p.16). The stats pass materializes the kernel output once
    (persist) so results and counters come from the same execution.

    ``doc_filter``: optional SQL predicate (or Column) over the docs-stage
    columns (the input-table metadata — role, tool, ts, conv_id — plus
    doclen), e.g. ``"role = 'assistant' AND ts >= timestamp'2026-01-01'"``.
    ES filter-context semantics (the bool ``filter`` clause wrapping the
    reference's function_score, ``es_query.7.x.json``): the result set is
    restricted to matching docs, scoring statistics (idf, avgdl) stay
    corpus-wide, and results are exact filtered top-k — pruning remains
    lossless over the filtered sub-corpus (disallowed docs are masked at the
    decode boundary; block maxima stay valid upper bounds).

    ``boosts``: optional {qid: {token: boost}} per-term score multipliers
    (ES ``term^boost``; see :func:`plan_queries` /
    :func:`parse_boosts`). Exact under every strategy: the kernel scales
    both contributions and pruning bounds by the boost.

    ``min_should_match``: int or {qid: int} — only docs matching >= that
    many distinct query tokens are returned (ES bool
    ``minimum_should_match``; default 1 = the bool-OR the reference uses).
    Exact under every strategy; see :func:`_bmw_shard` for why pruning
    stays lossless. Composes with ``boosts`` and ``doc_filter``.

    ``offset``: int or {qid: int} — ES ``from``/``size`` pagination: skip
    the first ``offset`` results and return the next k, with GLOBAL rank
    numbers (page 2 of size 10 carries ranks 11..20, so pages concatenate
    into the full ranking). Exact: the kernel simply targets depth
    offset + k. For deep pages prefer re-running with a larger k — the
    cost is O(offset + k), the classic deep-paging economics.

    ``fuzzy``: max Levenshtein edit distance for query-term expansion
    against the term dictionary (ES ``match`` ``fuzziness``; 0 = exact
    match only, the default). Each expanded term scores with its own idf
    and inherits its originating token's boost; a term reachable from two
    tokens contributes once. ``fuzzy_prefix`` (ES ``prefix_length``)
    requires the first N chars to match exactly; ``max_expansions`` caps
    expansions per token, highest-df first (term-ASC tie-break). Exact
    under every strategy — after expansion the kernel sees an ordinary OR
    query, so all pruning bounds hold. See :func:`fuzzy_expansions`.

    ``raw_matches``: return the per-shard candidate stream (qid, docID,
    score) BEFORE the global top-k window — exactly one row per matching
    (qid, docID) since a doc lives in one shard. This is the aggregation
    path (facets, significant_terms, match counting over a hot term): the
    per-qid window sort concentrates a query's ENTIRE match set into one
    task — O(matches log matches) in a single partition for a
    corpus-sized ``the``-query match set — while downstream facet
    joins/groupBys stay distributed and their shuffles are bounded by
    distinct (qid, facet value) after map-side partial aggregation. No
    ranks, no pagination; use ``strategy='exact'`` with a large k for full
    match enumeration. Incompatible with ``with_stats``.
    """
    from .deletes import load_tombstones

    _check_strategy(strategy)
    meta, _docs, terms_df, postings = load_index(spark, index_dir)
    tomb = load_tombstones(spark, index_dir)
    if isinstance(queries, DataFrame):
        qlist = [(r["qid"], r["text"], r["k"]) for r in queries.select("qid", "text", "k").collect()]
    else:
        qlist = list(queries)
    # the index's configured analyzer chain (build.IndexConfig stopwords/
    # stem) — queries must tokenize exactly like the postings did
    analyzer = _meta_analyzer(meta)
    qinfo, needed_terms = plan_queries(terms_df, qlist, boosts=boosts,
                                       min_should_match=min_should_match,
                                       offset=offset, fuzzy=fuzzy,
                                       fuzzy_prefix=fuzzy_prefix,
                                       max_expansions=max_expansions,
                                       analyzer=analyzer)
    if not qinfo:
        if raw_matches:
            return spark.createDataFrame([], RESULT_SCHEMA)
        empty = spark.createDataFrame([], "qid long, rank int, docID long, score double")
        return (empty, dict.fromkeys(_STATS_QIDS, 0)) if with_stats else empty

    posts = postings.where(F.col("termID").isin([int(t) for t in needed_terms]))
    # a doc's exact score needs every query term of its shard in one task, so
    # partition strictly by shard — 4x wider than the shard count to dodge
    # hash collisions (see build.py postings stage), and with an explicit
    # width so AQE cannot coalesce the scan down to a handful of tasks
    num_shards = int((meta.get("config") or {}).get("num_shards", 32))
    masked = doc_filter is not None or tomb is not None
    if masked:
        # ES soft-delete semantics: tombstoned docs vanish from results but
        # stay in the scoring statistics until expunge (Lucene live-docs)
        allowed = _docs if doc_filter is None else _docs.where(doc_filter)
        if tomb is not None:
            allowed = allowed.join(tomb, "docID", "left_anti")
        posts = posts.unionByName(_allow_posts(allowed, num_shards))
    cand = (
        posts.repartition(4 * num_shards, "shard")
        .sortWithinPartitions("shard", "termID", "block_id")
        .mapInArrow(
            _cell_kernel(float(meta["avgdl"]), strategy,
                         safe_bounds=bool(meta.get("appended")),
                         filtered=masked, small_cutoff=small_cutoff,
                         qinfo=qinfo, collect_stats=with_stats),
            RESULT_SCHEMA,
        )
    )
    if with_stats and any(q["qid"] < 0 for q in qinfo):
        # the stats rows travel as sentinel negative qids in the kernel
        # output; a caller-supplied negative qid would be summed into the
        # counters and dropped from the results — refuse instead
        raise ValueError("with_stats=True requires non-negative qids")
    if raw_matches:
        if with_stats:
            raise ValueError("raw_matches is incompatible with with_stats")
        return cand
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docID"))
    # q["k"] already includes the page offset; ranks returned are GLOBAL
    # (page 2 of size 10 carries ranks 11..20) so pages concatenate
    ks = spark.createDataFrame(
        [(q["qid"], q["k"], q.get("offset", 0)) for q in qinfo],
        "qid long, k int, off int",
    )

    def topk(df: DataFrame) -> DataFrame:
        return (
            df.join(F.broadcast(ks), "qid")
            .withColumn("rank", F.row_number().over(w))
            .where((F.col("rank") <= F.col("k")) & (F.col("rank") > F.col("off")))
            .select("qid", "rank", "docID", "score")
        )

    if with_stats:
        # one materialization serves both results and counters: the result
        # set is top-k bounded (<= sum(k) * shards rows), so collecting it
        # locally is cheap and lets the persisted kernel output be released
        # immediately instead of leaking in executor storage
        cand = cand.persist()
        try:
            stats_rows = cand.where(F.col("qid") < 0).groupBy("qid").agg(
                F.sum("docID").alias("v")
            ).collect()
            by_qid = {r["qid"]: int(r["v"]) for r in stats_rows}
            stats = {name: by_qid.get(qid, 0) for name, qid in _STATS_QIDS.items()}
            rows = topk(cand.where(F.col("qid") >= 0)).collect()
        finally:
            cand.unpersist()
        out = spark.createDataFrame(
            rows, "qid long, rank int, docID long, score double"
        )
        return out, stats
    return topk(cand)


def search_after(
    spark: SparkSession,
    index_dir: str,
    qid: int,
    text: str,
    size: int,
    after: tuple[float, int] | None = None,
    strategy: str = "wand",
    depth_hint: int = 0,
    deepen_cap: int = 6,
    **search_kw,
) -> DataFrame:
    """ES ``search_after`` cursor pagination: the page of ``size`` hits
    STRICTLY after the ``after`` cursor — the (score, docID) of the previous
    page's last hit — under the engine's pinned total order
    (score DESC, docID ASC). Unlike ``offset`` paging there is no page
    drift under concurrent appends to later pages' content above the
    cursor, and the caller never re-reads rows it already has: pages
    concatenate exactly into the global ranking with no duplicates or
    skips (pytest-certified against one deep ``search``).

    Cursor comparisons are EXACT float64: the kernel's per-doc score is a
    deterministic sum, so a cursor taken from a previous page's last row
    compares equal to the same doc's recomputed score. ``after=None``
    returns page one.

    Scale shape: iterative deepening over :func:`search` — run the kernel
    at depth k', keep rows after the cursor, and escalate k'×4 until the
    page fills or the match set is exhausted (result shorter than k').
    Total work is O(cursor_depth + size) with log(depth) kernel waves —
    the same deep-paging economics ES documents for ``search_after``
    without a point-in-time index. Sequential pagers can pass
    ``depth_hint`` (the global rank of the cursor row, known for free when
    paging forward) to start k' past the cursor and make page N a single
    wave. ``deepen_cap`` bounds the waves loudly rather than looping on a
    pathological cursor. Extra ``search_kw`` (doc_filter, boosts,
    min_should_match, fuzzy, ...) pass through to every wave.

    Returns DataFrame(qid, rank, docID, score) with GLOBAL ranks, ≤ size
    rows. Reference analogue: the ES result-window the app pages through
    (`/root/reference/dh/app/views.py` search route).
    """
    if size <= 0:
        raise ValueError("size must be positive")
    if after is None and depth_hint == 0:
        return search(spark, index_dir, [(qid, text, size)],
                      strategy=strategy, **search_kw)
    a_score, a_doc = (None, None) if after is None else \
        (float(after[0]), int(after[1]))
    k = max(2 * size, depth_hint + size)
    for _ in range(deepen_cap):
        rows = search(spark, index_dir, [(qid, text, k)],
                      strategy=strategy, **search_kw).collect()
        if after is None:
            page = rows[:size]
        else:
            page = [r for r in rows
                    if r["score"] < a_score
                    or (r["score"] == a_score and r["docID"] > a_doc)
                    ][:size]
        exhausted = len(rows) < k
        if len(page) >= size or exhausted:
            return spark.createDataFrame(
                page, "qid long, rank int, docID long, score double")
        k *= 4
    raise RuntimeError(
        f"search_after: page not filled within deepen_cap={deepen_cap} "
        f"waves (last depth {k // 4}); raise deepen_cap or check the cursor"
    )


def term_vectors(
    spark: SparkSession,
    index_dir: str,
    doc_ids: list[int],
) -> DataFrame:
    """ES ``_termvectors``: the per-(doc, term) vector — tf and doclen plus
    the corpus-wide df and idf each term scores with — for a set of docs.

    The tf side is recomputed from the index's FORWARD STORE (the docs
    stage carries text, the stored-fields pattern ``reindex`` also uses)
    with the SAME Arrow tokenize-explode kernel the build ran, so the
    vector describes exactly what the index contains; df/idf come from the
    terms dictionary, the statistics every query actually scores with.
    Docs whose text tokenizes to nothing emit no rows, as in the index.

    Scale shape: a point lookup. The docID IN predicate prunes the docs
    parquet scan; the exploded tf side is tiny (|doc_ids| docs), so it is
    BROADCAST and the corpus-sized term dictionary streams against it —
    never the reverse (a billion-term vocabulary must not be broadcast).
    Returns DataFrame(docID, term, tf, doclen, df, idf) ordered by
    (docID, term). Reference analogue: the per-image feature inspection
    the app exposes (`/root/reference/dh/app/views.py` detail route).
    """
    _meta, docs, terms_df, _p = load_index(spark, index_dir)
    ids = [int(d) for d in doc_ids]
    if not ids:
        return spark.createDataFrame(
            [], "docID long, term string, tf int, doclen int, "
                "df long, idf double")
    sel = (
        docs.where(F.col("docID").isin(ids))
        .select(
            "docID", "text",
            F.lit(0).cast("int").alias("shard"),
            F.lit(0).cast("int").alias("salt"),
        )
        .mapInArrow(tf_explode_kernel, TF_EXPLODED_SCHEMA)
        .select("docID", "term", "tf", "doclen")
    )
    return (
        terms_df.join(F.broadcast(sel), "term")
        .select("docID", "term", "tf", "doclen",
                F.col("df").cast("long").alias("df"), "idf")
        .orderBy("docID", "term")
    )


def search_mining(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    k: int,
    strategy: str = "wand",
    queries_per_bucket: int = 1024,
    small_cutoff: int = _SMALL_TERM,
    doc_filter: str | None = None,
) -> DataFrame:
    """Corpus-scale batched search — the query-by-every-document regime
    (dedup-by-search, MLT sweeps, mining): ``queries_df`` (qid long, text
    string) is NEVER collected to the driver; queries tokenize, resolve
    against the term dictionary, and reach the scoring kernels entirely as
    dataflow. Rank-identical to :func:`search` per query (same dictionary
    idf, ascending-termID accumulation, (score DESC, docID ASC) order);
    ES-analogue small batches should keep using ``search`` — its
    collected-and-broadcast planning is cheaper below ~10k queries.

    Plan shape (the (query-bucket x doc-shard) grid every distributed
    mining engine runs):

    1. tokenize + explode + DISTINCT -> (qid, term); join the term
       dictionary on ``term`` (absent tokens drop, contributing 0 — same
       as ``plan_queries``). One shuffle, queries-side-sized.
    2. bucket qids by hash into B = ceil(|Q| / queries_per_bucket)
       buckets; pack each query's sorted (termID, idf) plan and its k into
       ONE binary sentinel row per (query, shard) — schema-compatible with
       postings rows (termID = -2 sorts before every real term). Sentinel
       traffic is O(|Q| * shards * terms/query * 16 B): the explicit price
       of the grid, linear in both factors, no driver round-trip.
    3. replicate each needed posting row to the buckets wanting its term
       (shuffle-hash join on termID) — postings amplification is bounded
       by B, not |Q|; queries_per_bucket trades that against task memory.
    4. repartition by (bucket, shard), sort within partitions by (bucket,
       shard, termID, block_id), and run the cell kernel ``search`` also
       uses (:func:`_cell_kernel`): each (bucket, shard) cell scores its
       bucket's queries against its shard's postings. Per-term block
       metadata + blob views are packed ONCE per cell and shared by
       reference across the bucket's queries
       (per-(query, term) setup is O(1), not O(blocks-of-term) — hot
       terms would otherwise cost per-query work linear in corpus size),
       and ONE block-decode cache is shared across the bucket's queries —
       co-bucketed queries hitting the same hot term decode it once.
    5. global top-k merge per qid (window), identical to ``search``.

    At 10^12-turn scale every stage is a bounded shuffle: no collect, no
    broadcast of anything query-batch-sized, and per-task memory is one
    doc-shard slice of the bucket's terms. boosts/msm are not offered
    here (mining workloads are plain bool-OR); use ``search``.
    Returns (qid, rank, docID, score).

    ``doc_filter`` and TOMBSTONED indexes ride the same allow-set lane as
    ``search`` (ES filter context / live-docs semantics: results
    restricted, statistics corpus-wide, pruning lossless over the
    allowed sub-corpus): the per-shard allow chunks from
    :func:`_allow_posts` are replicated to every query bucket — the same
    B-bounded amplification the postings already pay, O(allowed-docs x 8
    B x B) on the wire — and each (bucket, shard) cell masks at the
    decode boundary exactly like the serving path. Rank-identical to
    ``search`` with the same filter/tombstones.
    """
    _check_strategy(strategy)
    if k <= 0:
        return spark.createDataFrame(
            [], "qid long, rank int, docID long, score double")
    from .deletes import load_tombstones

    tomb = load_tombstones(spark, index_dir)
    meta, _docs, terms_df, postings = load_index(spark, index_dir)
    avgdl = float(meta["avgdl"])
    num_shards = int((meta.get("config") or {}).get("num_shards", 32))
    # sentinel work orders must reach EVERY live shard id: append j parks
    # its postings in [num_shards*(j+1), num_shards*(j+2)) (append.py), so
    # the shard range is manifest arithmetic, not config.num_shards. After
    # a compaction the high ranges are empty — their sentinel rows land in
    # cells with no postings and the kernel skips them (harmless).
    shard_range = num_shards * (1 + len(meta.get("appends") or []))
    safe_bounds = bool(meta.get("appended"))

    n_q = queries_df.count()  # one scalar: sizes the bucket grid
    if n_q == 0:
        return spark.createDataFrame(
            [], "qid long, rank int, docID long, score double")
    n_buckets = max(1, -(-n_q // int(queries_per_bucket)))

    _an = _meta_analyzer(meta)
    qterms = (
        queries_df
        .select("qid", F.explode(tokens_expr(
            F.col("text"), tuple(_an[0]), _an[1], _an[2])).alias("term"))
        .distinct()  # duplicate query tokens count once (pinned semantics)
        .join(terms_df.select("term", "termID", "idf"), "term")
        .select(
            "qid", "termID", "idf",
            F.pmod(F.hash(F.col("qid")), F.lit(n_buckets)).alias("bucket"),
        )
    )

    def pack(pdf):
        import pandas as pd

        rows = []
        for (bkt, qid), g in pdf.groupby(["bucket", "qid"], sort=False):
            g = g.sort_values("termID")  # ascending-termID accumulation
            tids = g["termID"].to_numpy(dtype=np.int64)
            idfs = g["idf"].to_numpy(dtype=np.float64)
            rows.append((int(bkt), int(qid), len(tids),
                         tids.tobytes() + idfs.tobytes()))
        return pd.DataFrame(rows, columns=["bucket", "qid", "nt", "blob"])

    qplans = qterms.groupBy("bucket").applyInPandas(
        pack, "bucket int, qid long, nt int, blob binary")
    qrows = qplans.select(
        F.lit(_QINFO_TERM).cast("long").alias("termID"),
        F.explode(F.sequence(F.lit(0), F.lit(shard_range - 1))).alias("shard"),
        F.lit(0).alias("block_id"),
        F.col("nt").alias("n"),
        F.col("qid").alias("first_docID"),
        F.lit(int(k)).cast("long").alias("last_docID"),
        F.lit(0.0).alias("max_impact"),
        F.lit(0).alias("max_tf"),
        F.lit(0).alias("min_dl"),
        "blob",
        "bucket",
    )

    bucket_terms = qterms.select("bucket", "termID").distinct()
    posts = postings.join(bucket_terms, "termID")  # replicate x needing-buckets
    work = posts.select(*[f.name for f in qrows.schema.fields]) \
        .unionByName(qrows)
    filtered = doc_filter is not None or tomb is not None
    if filtered:
        # allow-set lane: the shard-chunked membership sentinels
        # (termID = _ALLOW_TERM, sorting between the _QINFO_TERM work
        # orders and every real term) replicated to EVERY bucket — each
        # (bucket, shard) cell needs its shard's full allow-set
        allowed = _docs if doc_filter is None else _docs.where(doc_filter)
        if tomb is not None:
            allowed = allowed.join(tomb, "docID", "left_anti")
        arows = _allow_posts(allowed, num_shards).withColumn(
            "bucket",
            F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))),
        )
        work = work.unionByName(
            arows.select(*[f.name for f in qrows.schema.fields]))
    grid = n_buckets * shard_range
    n_parts = int(max(4 * num_shards, min(grid, 4096)))

    cand = (
        work.repartition(n_parts, "bucket", "shard")
        .sortWithinPartitions("bucket", "shard", "termID", "block_id")
        .mapInArrow(
            _cell_kernel(avgdl, strategy, safe_bounds=safe_bounds,
                         filtered=filtered, small_cutoff=small_cutoff),
            RESULT_SCHEMA,
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docID"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(int(k)))
        .select("qid", "rank", "docID", "score")
    )


def match_count(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]] | DataFrame,
    strategy: str = "exact",
) -> DataFrame:
    """ES ``_count``: per-query bool-OR match cardinality, no ranking.

    The reference consumes exactly this endpoint for its corpus statistics
    (``/root/reference/dh/app/util.py:242-244`` hits ``/_count``). Here the
    pre-merge candidate stream (one row per matching (qid, docID); see
    ``raw_matches``) aggregates straight to counts — no top-k window, so a
    hot query's corpus-sized match set never concentrates in one task, and
    the groupBy shuffle is bounded by the number of queries after map-side
    partial aggregation. Queries matching nothing (or tokenizing to
    nothing) report 0. Returns (qid, n_matches).
    """
    if isinstance(queries, DataFrame):
        qlist = [(r["qid"], r["text"])
                 for r in queries.select("qid", "text").collect()]
    else:
        qlist = [(int(q), t) for q, t in queries]
    qdf = spark.createDataFrame([(q,) for q, _t in qlist], "qid long")
    if not qlist:
        return spark.createDataFrame([], "qid long, n_matches long")
    cand = search(spark, index_dir, [(q, t, 1 << 40) for q, t in qlist],
                  strategy=strategy, raw_matches=True)
    counts = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_matches"))
    return (
        qdf.join(counts, "qid", "left")
        .select("qid", F.coalesce("n_matches", F.lit(0)).cast("long")
                .alias("n_matches"))
    )


def percolate(
    queries: list[tuple] | DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    analyzer: tuple = ((), False, ()),
) -> DataFrame:
    """ES percolator (reverse search): match DOCUMENTS against STORED
    queries — which standing queries does each incoming document satisfy?
    The routing/alerting primitive of a streaming transcript pipeline:
    register the queries once, percolate every arriving batch (the same
    transform applies unchanged under ``foreachBatch``).

    ``queries``: (qid, text[, min_should_match]) tuples or a DataFrame —
    text in the :func:`parse_query_string` mini-dialect: terms,
    ``-negation``, or a whole-string ``"phrase"`` (the dialect's
    must_not-only case is rejected there; ``^boost`` markers parse but
    are ignored — percolation is boolean, there is nothing to score). A
    term doc matches qid when it contains >= min_should_match of the
    query's distinct positive terms (default 1 — ES ``match`` OR
    semantics) and none of its negated terms; a PHRASE query matches
    when the phrase's tokens appear consecutively (two-stage like the
    engine's phrase search: candidates must contain ALL the phrase's
    distinct terms — the cheap registry join — then only candidates pay
    the positional verify, a JVM higher-order expression over the
    ordered token array; min_should_match is ignored for phrases).
    Queries tokenizing to nothing match nothing. Returns (``id_col``,
    qid, n_matched), n_matched = distinct positive terms present.

    Scale: stored queries are the SMALL side (thousands), documents the
    stream — so queries parse driver-side at registration (bounded by the
    registry, never by the corpus) and broadcast; docs tokenize in one
    scan via the JVM expression with ``array_distinct`` BEFORE the
    explode (per-doc dedup without a corpus-token-scale DISTINCT
    shuffle). The only shuffle is the (doc, qid) match-count groupBy,
    bounded by actual match pairs after map-side partial aggregation, and
    the negation anti-join keys on the same pair."""
    reg = parse_percolator_registry(docs.sparkSession, queries,
                                    analyzer=analyzer)
    return percolate_registry(reg, docs, id_col=id_col, text_col=text_col)


def parse_percolator_registry(
    spark: SparkSession, queries: list[tuple] | DataFrame,
    analyzer: tuple = ((), False, ()),
) -> dict:
    """Parse a standing-query registry ONCE into the broadcast tables
    :func:`percolate_registry` matches against. Streaming callers
    (``streaming.ingest.route_stream``) call this at query start so the
    per-batch sink pays only the match, not re-parsing + re-building the
    registry DataFrames on every micro-batch.

    ``analyzer``: optional (stopwords, stem, synonyms) chain — the
    percolator is index-less, so ES's field-mapping analyzer becomes an
    explicit registration-time parameter; registry terms/phrases and
    (via the same tuple carried in the returned registry) every
    percolated document batch analyze identically. An all-stopword
    standing query can match nothing and registers nothing."""
    if isinstance(queries, DataFrame):
        cols = queries.columns
        rows = [(r["qid"], r["text"],
                 int(r["min_should_match"]) if "min_should_match" in cols
                 and r["min_should_match"] is not None else 1)
                for r in queries.collect()]
    else:
        rows = [(q[0], q[1], int(q[2]) if len(q) > 2 else 1)
                for q in queries]
    _astop = frozenset(analyzer[0] or ())
    _astem = bool(analyzer[1])
    _asyn = tuple(analyzer[2]) if len(analyzer) > 2 else ()
    pq, msm_rows, phrase_rows = [], [], []
    for qid, text, msm in rows:
        p = parse_query_string(text)
        if p["phrase"]:
            ptoks = tokenize_py(p["text"], _astop, _astem, _asyn)
            pos = sorted(set(ptoks))
            if not pos:
                continue  # phrase analyzed away entirely
            pq += [(int(qid), t, "pos") for t in pos]
            # all distinct terms required (the candidate stage); a
            # 1-token phrase IS a term query, no positional stage needed
            msm_rows.append((int(qid), max(len(pos), 1)))
            if len(ptoks) >= 2:
                phrase_rows.append((int(qid), ptoks))
            continue
        pos = sorted(set(tokenize_py(p["text"], _astop, _astem, _asyn)))
        neg = sorted(set(tokenize_py(p["must_not"], _astop, _astem, _asyn)))
        pq += [(int(qid), t, "pos") for t in pos]
        pq += [(int(qid), t, "neg") for t in neg]
        # msm > distinct positive terms matches nothing, like search()'s
        # min_should_match — no silent clamp
        msm_rows.append((int(qid), msm))
    if not pq:
        return {"empty": True}
    reg = {
        "empty": False,
        "pqdf": F.broadcast(
            spark.createDataFrame(pq, "qid long, term string, kind string")),
        "msmdf": F.broadcast(
            spark.createDataFrame(msm_rows, "qid long, msm int")),
        "pdf": None,
        "phrase_qids": [q for q, _t in phrase_rows],
        "analyzer": (tuple(sorted(_astop)), _astem, _asyn),
    }
    if phrase_rows:
        reg["pdf"] = F.broadcast(spark.createDataFrame(
            phrase_rows, "qid long, phrase array<string>"))
    return reg


def percolate_registry(
    reg: dict,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Match a document batch against a registry pre-parsed by
    :func:`parse_percolator_registry` (semantics documented on
    :func:`percolate`)."""
    spark = docs.sparkSession
    if reg["empty"]:
        return spark.createDataFrame(
            [], f"{id_col} long, qid long, n_matched long")
    pqdf, msmdf = reg["pqdf"], reg["msmdf"]
    _an = reg.get("analyzer") or ((), False, ())
    dterms = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_expr(F.col(text_col), *_an)))
        .alias("term"),
    )
    hits = dterms.join(pqdf, "term")
    cand = (
        hits.where(F.col("kind") == "pos")
        .groupBy(id_col, "qid")
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .join(msmdf, "qid")
        .where(F.col("n_matched") >= F.col("msm"))
    )
    denied = hits.where(F.col("kind") == "neg").select(id_col, "qid")
    out = (
        cand.join(denied, [id_col, "qid"], "left_anti")
        .select(id_col, "qid", F.col("n_matched").cast("long"))
    )
    if reg["phrase_qids"]:
        # positional verify, candidates only: join back to the ordered
        # token array and demand a consecutive run equal to the phrase.
        # Bounded by candidate pairs (docs containing ALL phrase terms),
        # never by the corpus; the phrase table broadcasts.
        pdf = reg["pdf"]
        toks = docs.select(
            F.col(id_col),
            tokens_expr(F.col(text_col), *_an).alias("_toks"))
        is_phrase = F.col("qid").isin(reg["phrase_qids"])
        verified = (
            out.where(is_phrase)
            .join(pdf, "qid")
            .join(toks, id_col)
            .where(F.size("_toks") >= F.size("phrase"))
            .where(F.expr(
                "exists(sequence(1, size(_toks) - size(phrase) + 1), "
                "i -> slice(_toks, i, size(phrase)) == phrase)"))
            .select(id_col, "qid", "n_matched")
        )
        out = out.where(~is_phrase).unionByName(verified)
    return out


def rescore_topk(
    primary: DataFrame,
    secondary: DataFrame,
    ks: DataFrame,
    window_size: int,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    qid_col: str = "qid",
    id_col: str = "docID",
    score_col: str = "score",
) -> DataFrame:
    """ES ``rescore``: re-rank each query's top ``window_size`` primary
    hits by a combined score ``query_weight * primary + rescore_weight *
    secondary`` (ES ``score_mode: total``, the default), then cut the
    final top-k. Window docs the secondary query does not match keep a
    secondary contribution of 0, exactly like ES; hits below the window
    are untouched (and unreturned — ``k`` must not exceed
    ``window_size``, the only regime where rescoring is well-defined
    without splicing the unrescored tail back in).

    ``primary``/``secondary``: (qid, docID, score) scored streams —
    primary deep enough to cover the window (feed a k=window_size engine
    page in production; the full ranking in exactness certification),
    secondary a full match enumeration (``search(raw_matches=True)``) so
    every window doc finds its secondary score. ``ks``: (qid, k). Both
    window selection and the final order use the engine-independent
    (round(score, 6) DESC, docID ASC) comparison order.

    Scale shape: the window cut bounds everything downstream to
    window_size rows per query; the secondary join is an equi-join on
    (qid, docID) against that bounded page, so the rescore query's match
    enumeration never sorts — the classic ES economics (cheap query deep,
    expensive query shallow) carried over shuffle-bound."""
    if window_size < 1:
        raise ValueError(f"window_size must be >= 1 (got {window_size})")
    bad = ks.where(F.col("k") > window_size).limit(1).collect()
    if bad:
        raise ValueError(
            f"k={bad[0]['k']} exceeds window_size={window_size}: ranks past "
            "the window are NOT rescored; raise window_size")
    w_pri = Window.partitionBy(qid_col).orderBy(
        F.desc(F.round(score_col, 6)), F.asc(id_col))
    win = (
        primary.withColumn("_prn", F.row_number().over(w_pri))
        .where(F.col("_prn") <= int(window_size))
        .drop("_prn")
    )
    sec = secondary.select(
        qid_col, id_col, F.col(score_col).alias("_sec"))
    comb = (
        win.join(sec, [qid_col, id_col], "left")
        .withColumn(
            score_col,
            F.lit(float(query_weight)) * F.col(score_col)
            + F.lit(float(rescore_weight)) * F.coalesce("_sec", F.lit(0.0)),
        )
        .drop("_sec")
    )
    w_fin = Window.partitionBy(qid_col).orderBy(
        F.desc(F.round(score_col, 6)), F.asc(id_col))
    return (
        comb.withColumn("rank", F.row_number().over(w_fin))
        .join(F.broadcast(ks), qid_col)
        .where(F.col("rank") <= F.col("k"))
        .select(qid_col, "rank", id_col, score_col)
    )


def terms_set_search(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str, int]],
    required_expr: str,
    strategy: str = "exact",
) -> DataFrame:
    """ES ``terms_set`` query: docs qualify only if they contain at least
    ``required(doc)`` DISTINCT query terms, where the requirement is a
    PER-DOCUMENT expression over the docs-stage columns (the
    ``minimum_should_match_field`` form — ES reads the threshold from a
    field of each candidate document; scripts reduce to an expression the
    same way). Qualifying docs score as the ordinary BM25 sum of their
    matched terms. This is ``min_should_match`` with the constant
    replaced by data — the kernel's per-QUERY msm cannot express it, so
    the requirement is enforced in dataflow.

    Returns (qid, rank, docID, score, n_matched) under the
    engine-independent (round(score, 6) DESC, docID ASC) order, per-query
    top-k. Tokens absent from the dictionary can never match but a doc's
    requirement is what its field says — unsatisfiable requirements
    (required > resolved terms) simply match nothing, per ES.

    Scale shape: three bounded pieces, no new machinery — (1) the
    matched-term counts come from :func:`postings_docids` over ONLY the
    query terms' postings (termID-IN parquet pushdown) joined to a
    broadcast (qid, termID) table, then one map-side-combined groupBy on
    (qid, docID); (2) scores come from the standard kernel's
    ``raw_matches`` stream; (3) the per-doc requirement is one projected
    column off the docs table, equi-joined. The final top-k window sees
    only docs that cleared the requirement."""
    meta, docs, terms_df, _postings = load_index(spark, index_dir)
    full = [(int(q), t, 1 << 40) for q, t, _k in queries]
    qinfo, needed = plan_queries(
        terms_df, full, analyzer=_meta_analyzer(meta))
    empty = spark.createDataFrame(
        [], "qid long, rank int, docID long, score double, n_matched long")
    if not qinfo:
        return empty
    qt = spark.createDataFrame(
        [(q["qid"], int(tid)) for q in qinfo for tid, _w, _b in q["terms"]],
        "qid long, termID long",
    )
    inc = postings_docids(spark, index_dir, needed)
    counts = (
        inc.join(F.broadcast(qt), "termID")
        .groupBy("qid", "docID")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    scores = search(spark, index_dir, full, strategy=strategy,
                    raw_matches=True)
    req = docs.select(
        "docID", F.expr(required_expr).cast("long").alias("_req"))
    hits = (
        scores.join(counts, ["qid", "docID"])
        .join(req, "docID")
        .where(F.col("n_matched") >= F.col("_req"))
    )
    ks = spark.createDataFrame(
        [(int(q), int(k)) for q, _t, k in queries], "qid long, k int")
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 6)), F.asc("docID"))
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .join(F.broadcast(ks), "qid")
        .where(F.col("rank") <= F.col("k"))
        .select("qid", "rank", "docID", "score", "n_matched")
    )
