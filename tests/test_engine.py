"""Engine correctness vs the exact oracle (FIXTURES.md §4).

Mirrors the reference's oracle-comparison methodology — the ``es-long`` exact
index judging ``twostage`` (``/root/reference/experiments/get_aps.py``) — but
with exactness required: rank-identical top-k docIDs and equal BM25 scores.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from elastichash_spark import build, codec, oracle, query, scoring
from elastichash_spark.build import IndexConfig
from elastichash_spark.manifest import read_manifest


@pytest.fixture(scope="module")
def idx_dir(spark, t1, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "t1")
    build.build_index(spark, t1, d, IndexConfig(num_shards=8, salt_buckets=4))
    return d


def _all_postings(spark, idx_dir):
    return spark.read.parquet(os.path.join(idx_dir, "postings")).collect()


def test_tf_table_equality(spark, t1, idx_dir):
    """Index-derived (termID, docID, tf, doclen) equals the oracle's tf table
    exactly — the build preserved every posting (SURVEY.md §7.1 M1 check)."""
    decoded = set()
    for r in _all_postings(spark, idx_dir):
        docs, tfs, dls = codec.decode_run(r["blob"], r["n"])
        for d, t, l in zip(docs, tfs, dls):
            decoded.add((r["termID"], int(d), int(t), int(l)))
    docs_df = oracle.docs_with_ids(t1)
    tdict = oracle.term_dict(oracle.tf_table(docs_df))
    want = {
        (r["termID"], r["docID"], r["tf"], r["doclen"])
        for r in oracle.tf_table(docs_df).join(tdict, "term").collect()
    }
    assert decoded == want


def test_block_invariants(spark, idx_dir):
    """Blocks are docID-sorted, disjoint, contiguous, and metadata-consistent;
    every member impact <= stored block max (WAND no-false-prune guarantee —
    the analogue of the MIH pigeonhole proposition, SURVEY.md §4.3)."""
    meta = read_manifest(idx_dir)
    avgdl = meta["avgdl"]
    terms = {r["termID"]: r["idf"] for r in spark.read.parquet(os.path.join(idx_dir, "terms")).collect()}
    by_term_shard = {}
    for r in _all_postings(spark, idx_dir):
        by_term_shard.setdefault((r["termID"], r["shard"]), []).append(r)
    assert by_term_shard
    for (tid, _shard), blocks in by_term_shard.items():
        blocks.sort(key=lambda r: r["block_id"])
        assert [b["block_id"] for b in blocks] == list(range(len(blocks)))
        prev_last = -1
        for b in blocks:
            docs, tfs, dls = codec.decode_run(b["blob"], b["n"])
            assert (np.diff(docs) > 0).all()  # strictly increasing
            assert docs[0] == b["first_docID"] and docs[-1] == b["last_docID"]
            assert docs[0] > prev_last  # blocks disjoint + ordered
            prev_last = int(docs[-1])
            impacts = terms[tid] * scoring.tf_part_np(tfs, dls, avgdl)
            assert (impacts <= b["max_impact"] + 0.0).all()
            assert impacts.max() == b["max_impact"]  # tight bound


def test_shard_assignment(spark, idx_dir):
    meta = read_manifest(idx_dir)
    ssize = meta["shard_size"]
    for r in _all_postings(spark, idx_dir):
        docs, _, _ = codec.decode_run(r["blob"], r["n"])
        assert ((docs // ssize) == r["shard"]).all()


def _postings_fingerprint(spark, d):
    rows = _all_postings(spark, d)
    return sorted(
        (r["termID"], r["shard"], r["block_id"], r["n"], r["first_docID"],
         r["last_docID"], r["max_impact"], bytes(r["blob"]))
        for r in rows
    )


def test_salted_merge_equivalence(spark, t1, idx_dir, tmp_path):
    """Index built with salt_buckets=1 is identical (blob bytes included) to
    the salted build — the merge provably undoes the salting (FIXTURES §4.6)."""
    d1 = str(tmp_path / "unsalted")
    build.build_index(spark, t1, d1, IndexConfig(num_shards=8, salt_buckets=1))
    assert _postings_fingerprint(spark, d1) == _postings_fingerprint(spark, idx_dir)


def test_merge_bucket_equivalence(spark, t1, idx_dir, tmp_path, monkeypatch):
    """Index built with the bucketed postings merge forced wide (fan-out
    clamp lowered so the t1 corpus takes the multi-bucket path) is identical
    — blob bytes included — to the module-fixture index (whose run volume
    clamps it to one bucket). merge_buckets only re-partitions the merge
    shuffle; every (termID, shard) group stays whole, so content cannot
    depend on it."""
    monkeypatch.setattr(build, "_RUNS_PER_MERGE_BUCKET", 16)
    d1 = str(tmp_path / "bucketed")
    build.build_index(
        spark, t1, d1,
        IndexConfig(num_shards=8, salt_buckets=4, merge_buckets=8),
    )
    assert _postings_fingerprint(spark, d1) == _postings_fingerprint(spark, idx_dir)


def test_bucketed_index_append_compact(spark, t1, t1_queries, tmp_path,
                                       monkeypatch):
    """The multi-bucket postings layout (several files per shard, each a
    contiguous termID range) composed with the append + compact lifecycle:
    base build forced onto the multi-bucket path, append the held-out half,
    then compact — wand == exact and score sequences match the full-corpus
    oracle at every step. Guards the interplay the unit identity test
    can't see: appends must read the multi-file base layout, and compaction
    must fold generations back through the bucketed merge write."""
    from elastichash_spark.append import append_index, compact_index

    monkeypatch.setattr(build, "_RUNS_PER_MERGE_BUCKET", 16)
    convs = sorted({r["conv_id"] for r in t1.select("conv_id").distinct().collect()})
    half_a = t1.where(F.col("conv_id").isin(convs[: len(convs) // 2]))
    half_b = t1.where(~F.col("conv_id").isin(convs[: len(convs) // 2]))
    d = str(tmp_path / "bucketed_lifecycle")
    build.build_index(
        spark, half_a, d,
        IndexConfig(num_shards=4, salt_buckets=2, block_size=16,
                    doc_order="doclen", merge_buckets=8),
    )
    # base really took the multi-bucket path: >1 postings file in a shard
    files = glob.glob(os.path.join(d, "postings", "shard=0", "*.parquet"))
    assert len(files) > 1, "clamp override failed to force the bucketed path"

    def check():
        eng = query.search(spark, d, t1_queries, "wand").orderBy("qid", "rank").collect()
        exa = query.search(spark, d, t1_queries, "exact").orderBy("qid", "rank").collect()
        assert [(r["qid"], r["rank"], r["docID"], r["score"]) for r in eng] == [
            (r["qid"], r["rank"], r["docID"], r["score"]) for r in exa
        ]
        return eng

    ora = oracle.oracle_topk(t1, t1_queries).orderBy("qid", "rank").collect()

    def score_seq(rows):
        out = {}
        for r in rows:
            out.setdefault(r["qid"], []).append(round(r["score"], 9))
        return {q: sorted(v) for q, v in out.items()}

    append_index(spark, half_b, d, run_id="bk1")
    assert score_seq(check()) == score_seq(ora)
    compact_index(spark, d, run_id="bkc")
    assert score_seq(check()) == score_seq(ora)


def test_vacuum_build_intermediates_lifecycle(spark, t1, t1_queries, tmp_path):
    """vacuum drops mruns/runs from a finished build without changing any
    query result; resume short-circuits on the vacuumed marker instead of
    rebuilding the missing stages; append still composes (it stages under
    appends/<run_id>, never the run dirs); lineage metrics of the removed
    stages survive inside the root manifest."""
    from elastichash_spark.append import append_index

    convs = sorted({r["conv_id"] for r in t1.select("conv_id").distinct().collect()})
    half_a = t1.where(F.col("conv_id").isin(convs[: len(convs) // 2]))
    half_b = t1.where(~F.col("conv_id").isin(convs[: len(convs) // 2]))
    d = str(tmp_path / "vac")
    cfg = IndexConfig(num_shards=4, salt_buckets=2)
    build.build_index(spark, half_a, d, cfg)

    with pytest.raises(ValueError, match="unfinished"):
        build.vacuum_build_intermediates(str(tmp_path / "not_an_index"))

    def snap():
        rows = query.search(spark, d, t1_queries, "wand").orderBy("qid", "rank").collect()
        return [(r["qid"], r["rank"], r["docID"], round(r["score"], 9)) for r in rows]

    before = snap()
    out = build.vacuum_build_intermediates(d)
    assert out["stages_removed"] == ["mruns", "runs"] and out["bytes_freed"] > 0
    assert not os.path.exists(os.path.join(d, "mruns"))
    assert not os.path.exists(os.path.join(d, "runs"))
    assert snap() == before

    # resume of the SAME build short-circuits: meta returned, run stages
    # NOT recreated
    meta = build.build_index(spark, half_a, d, cfg)
    assert meta["vacuumed"]["bytes_freed"] == out["bytes_freed"]
    assert not os.path.exists(os.path.join(d, "mruns"))

    # idempotent second vacuum: nothing left to free
    again = build.vacuum_build_intermediates(d)
    assert again == {"bytes_freed": 0, "stages_removed": [], "index_dir": d}

    # append after vacuum: full-corpus score sequences match the oracle
    append_index(spark, half_b, d, run_id="postvac")
    eng = query.search(spark, d, t1_queries, "wand").orderBy("qid", "rank").collect()
    ora = oracle.oracle_topk(t1, t1_queries).orderBy("qid", "rank").collect()

    def score_seq(rows):
        out_ = {}
        for r in rows:
            out_.setdefault(r["qid"], []).append(round(r["score"], 9))
        return {q: sorted(v) for q, v in out_.items()}

    assert score_seq(eng) == score_seq(ora)

    # the removed stages' manifests (lineage + metrics) are preserved,
    # keyed by index-relative path — including one per runs salt bucket
    vm = read_manifest(d)["vacuumed"]["stage_manifests"]
    assert vm["mruns"]["stage"] == "mruns" and "rows" in vm["mruns"]
    salted = [k for k in vm if k.startswith(os.path.join("runs", "salt="))]
    assert len(salted) == cfg.salt_buckets
    assert all(vm[k]["stage"].startswith("runs/salt=") for k in salted)


def test_running_total_matches_pandas(spark):
    """with_running_total == pandas cumsum for every partitioning width,
    including widths far exceeding the row count (empty ranges)."""
    import pandas as pd

    from elastichash_spark.ids import with_running_total

    pdf = pd.DataFrame({
        "k": np.arange(137, dtype="int64"),
        "v": (np.arange(137, dtype="int64") * 7919) % 101,
    }).sample(frac=1.0, random_state=5)  # shuffled input order
    want = pdf.sort_values("k").assign(rt=lambda d: d["v"].cumsum())
    for parts in (1, 4, 300):
        out, total = with_running_total(
            spark.createDataFrame(pdf), ["k"], "v", "rt", num_partitions=parts
        )
        got = {r["k"]: r["rt"] for r in out.collect()}
        assert total == int(pdf["v"].sum())
        assert got == dict(zip(want["k"], want["rt"].astype(int)))


def test_resume_equivalence(spark, t1, idx_dir, tmp_path):
    """Kill-and-resume: wipe the postings stage and one salted-run checkpoint,
    rerun the build — untouched stages are skipped (manifest timestamps
    unchanged), the result is identical (FIXTURES §4.7)."""
    d2 = str(tmp_path / "resumed")
    shutil.copytree(idx_dir, d2)
    want = _postings_fingerprint(spark, idx_dir)
    # wipe three checkpoints spanning the pipeline: the map-side partial
    # runs (mruns — the stage the session-5 rewrite introduced), one salted
    # run sub-stage, and the final postings merge. The rebuilt mruns must
    # be deterministic (downstream complete stages are SKIPPED, so a
    # nondeterministic mruns rebuild would silently diverge from the runs
    # stage built over its first incarnation — the fingerprint would catch
    # postings rebuilt from a mismatched salt=2).
    shutil.rmtree(os.path.join(d2, "postings"))
    shutil.rmtree(os.path.join(d2, "runs", "salt=2"))
    shutil.rmtree(os.path.join(d2, "mruns"))
    before_docs = read_manifest(os.path.join(d2, "docs"))["written_at_unix"]
    before_terms = read_manifest(os.path.join(d2, "terms"))["written_at_unix"]
    before_salt0 = read_manifest(os.path.join(d2, "runs", "salt=0"))["written_at_unix"]
    build.build_index(spark, t1, d2, IndexConfig(num_shards=8, salt_buckets=4))
    assert read_manifest(os.path.join(d2, "docs"))["written_at_unix"] == before_docs
    assert read_manifest(os.path.join(d2, "terms"))["written_at_unix"] == before_terms
    assert read_manifest(os.path.join(d2, "runs", "salt=0"))["written_at_unix"] == before_salt0
    assert read_manifest(os.path.join(d2, "mruns")) is not None
    assert read_manifest(os.path.join(d2, "runs", "salt=2")) is not None
    assert _postings_fingerprint(spark, d2) == want


def test_manifest_metrics(idx_dir):
    """Per-posting-run lineage: each salted-run manifest records rows+bytes
    per build partition (north_rule checkpoint metrics)."""
    for sd in glob.glob(os.path.join(idx_dir, "runs", "salt=*")):
        m = read_manifest(sd)
        assert m is not None and m["partitions"]
        for pid, pm in m["partitions"].items():
            assert pm["rows"] > 0 and pm["bytes"] > 0 and pm["runs"] > 0


def test_wand_rank_identical_to_oracle(spark, t1, t1_queries, idx_dir):
    """THE gate: engine top-k == oracle top-k in docID sequence AND scores
    (atol 1e-9 required; observed bitwise-equal)."""
    eng = query.search(spark, idx_dir, t1_queries, strategy="wand").orderBy("qid", "rank").collect()
    ora = oracle.oracle_topk(t1, t1_queries).orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["docID"]) for r in eng] == [
        (r["qid"], r["rank"], r["docID"]) for r in ora
    ]
    diffs = np.abs(np.array([r["score"] for r in eng]) - np.array([r["score"] for r in ora]))
    assert len(diffs) > 0 and diffs.max() < 1e-9


def test_exact_strategy_matches_wand(spark, t1_queries, idx_dir):
    """The es-long analogue (decode-everything) and the two-stage path return
    byte-identical results — pruning is lossless."""
    eng = query.search(spark, idx_dir, t1_queries, strategy="wand").orderBy("qid", "rank").collect()
    exa = query.search(spark, idx_dir, t1_queries, strategy="exact").orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["docID"], r["score"]) for r in eng] == [
        (r["qid"], r["rank"], r["docID"], r["score"]) for r in exa
    ]


def test_unknown_strategy_fails_at_the_call(spark, t1_queries, idx_dir):
    """An unknown strategy — a typo, or the removed document-at-a-time
    'wand_daat' — raises ValueError from the call itself, naming the valid
    choices, for both serving entry points: no lazy DataFrame that fails
    later inside a Python worker."""
    mq = spark.createDataFrame([(1, "the value")], "qid long, text string")
    for bad in ("bogus", "wand_daat"):
        with pytest.raises(ValueError, match="'wand', 'exact'"):
            query.search(spark, idx_dir, t1_queries, strategy=bad)
        with pytest.raises(ValueError, match="'wand', 'exact'"):
            query.search_mining(spark, idx_dir, mq, 5, strategy=bad)


def test_default_driver_mem_fits_the_host():
    """Without SPARK_DRIVER_MEM the driver heap is 24g capped at 60% of
    physical memory, so a small host never gets a heap beyond its RAM."""
    from elastichash_spark.session import _default_driver_mem

    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = _default_driver_mem()
    assert mem.endswith("m")
    mib = int(mem[:-1])
    assert 0 < mib <= 24 << 10 and mib << 20 <= 0.6 * phys


def test_filtered_search_rank_identity(spark, t1, t1_queries, idx_dir):
    """ES filter-context semantics (``search(doc_filter=...)``, the bool
    filter clause wrapping the reference's function_score,
    ``es_query.7.x.json``): the result set restricts to docs matching a
    metadata predicate while scoring statistics stay corpus-wide —
    rank-identical to the oracle restricted the same way, for both
    strategies, on a role predicate and a derived-doclen predicate."""
    for pred in ("role = 'assistant'", "doclen >= 8 AND role <> 'tool'"):
        ora = (
            oracle.oracle_topk(t1, t1_queries, doc_filter=pred)
            .orderBy("qid", "rank").collect()
        )
        assert ora, f"fixture predicate {pred!r} must keep some results"
        for strat in ("wand", "exact"):
            eng = (
                query.search(spark, idx_dir, t1_queries, strategy=strat,
                             doc_filter=pred)
                .orderBy("qid", "rank").collect()
            )
            assert [(r["qid"], r["rank"], r["docID"]) for r in eng] == [
                (r["qid"], r["rank"], r["docID"]) for r in ora
            ], f"{strat} vs oracle under {pred!r}"
            diffs = np.abs(
                np.array([r["score"] for r in eng])
                - np.array([r["score"] for r in ora])
            )
            assert diffs.max() < 1e-9
    # a filter matching nothing returns no rows, no crash
    assert (
        query.search(spark, idx_dir, t1_queries, doc_filter="role = 'zz'").count()
        == 0
    )
    # an always-true filter reproduces the unfiltered results byte-for-byte
    allf = (
        query.search(spark, idx_dir, t1_queries, doc_filter="docID >= 0")
        .orderBy("qid", "rank").collect()
    )
    base = query.search(spark, idx_dir, t1_queries).orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["docID"], r["score"]) for r in allf] == [
        (r["qid"], r["rank"], r["docID"], r["score"]) for r in base
    ]


def test_filtered_randomized_equivalence(spark, tmp_path):
    """wand(filtered) row-identical to exact(filtered) on a random
    adversarial corpus (heavy ties, tiny blocks, impact ordering) — sweeps
    the pruning bounds over the filtered sub-corpus, where tie thresholds,
    cross-term bounds, and candidate refinement all come from masked
    decodes, in both small-term regimes."""
    rng = np.random.Generator(np.random.PCG64(404))
    vocab = [f"t{i:02d}" for i in range(25)]
    probs = 1.0 / np.arange(1, len(vocab) + 1)
    probs /= probs.sum()
    rows = []
    for c in range(120):
        n_tok = int(rng.integers(1, 25))
        toks = rng.choice(vocab, size=n_tok, p=probs)
        rows.append((f"f{c:04d}", 0, "user", " ".join(toks), None, None))
    corpus = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    d = str(tmp_path / "fuzzfilter")
    build.build_index(
        spark, corpus, d,
        IndexConfig(num_shards=3, salt_buckets=2, block_size=4, doc_order="doclen"),
    )
    queries = []
    for qi in range(10):
        n = int(rng.integers(1, 6))
        terms = list(rng.choice(vocab + ["zzabsent"], size=n))
        k = int(rng.choice([1, 3, 10, 100]))
        queries.append((qi, " ".join(terms), k))
    pred = "doclen % 2 = 0"  # ~50% selectivity, uncorrelated with docID order
    e = (
        query.search(spark, d, queries, "exact", doc_filter=pred)
        .orderBy("qid", "rank").collect()
    )
    assert e, "filtered fixture must produce results"
    for cut in (query._SMALL_TERM, 0):
        w = (
            query.search(spark, d, queries, "wand", small_cutoff=cut,
                         doc_filter=pred)
            .orderBy("qid", "rank").collect()
        )
        assert [(r["qid"], r["rank"], r["docID"], r["score"]) for r in w] == [
            (r["qid"], r["rank"], r["docID"], r["score"]) for r in e
        ], f"filtered wand != exact at cutoff {cut}"


def test_adversarial_threshold_ties(spark, idx_dir, t1):
    """Docs with identical texts produce exact score ties at the top-k
    boundary; pruning must not drop the docID-ordered winners (SURVEY §7.3)."""
    corpus = t1.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    # append 5 clone conversations of one turn each with identical text
    clones = t1.sparkSession.createDataFrame(
        [(f"tie{i:06d}", 0, "user", "w00001 w00002 w00001", None, None) for i in range(5)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    import tempfile

    d = tempfile.mkdtemp(prefix="tieidx")
    build.build_index(spark, corpus.unionByName(clones), d, IndexConfig(num_shards=4, salt_buckets=2))
    q = [(0, "w00001 w00002", 3), (1, "w00001 w00002", 5000)]
    eng = query.search(spark, d, q, strategy="wand").orderBy("qid", "rank").collect()
    ora = oracle.oracle_topk(corpus.unionByName(clones), spark.createDataFrame(q, "qid long, text string, k int")).orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["docID"], r["score"]) for r in eng] == [
        (r["qid"], r["rank"], r["docID"], r["score"]) for r in ora
    ]
    shutil.rmtree(d, ignore_errors=True)


def test_doclen_order_rank_identity_and_pruning(spark, t1, t1_queries, tmp_path_factory):
    """Impact-aware docID assignment (doc_order='doclen'): results stay
    rank-identical to the oracle, and block-max pruning measurably skips
    blocks (the two-stage economics the reference demonstrates on slides
    p.16 — here lossless, so the win must come with identical results)."""
    d = str(tmp_path_factory.mktemp("idxlen") / "t1")
    # block_size 16: the t1 corpus is small enough that 128-posting blocks
    # leave most posting lists single-block (nothing to prune); production
    # uses 128 over lists thousands of blocks long
    build.build_index(
        spark, t1, d,
        IndexConfig(num_shards=4, salt_buckets=2, block_size=16, doc_order="doclen"),
    )
    res, stats = query.search(spark, d, t1_queries, strategy="wand", with_stats=True)
    eng = res.orderBy("qid", "rank").collect()
    ora = oracle.oracle_topk(t1, t1_queries).orderBy("qid", "rank").collect()
    # docIDs differ between orderings, so compare on the corpus key + score
    docs = spark.read.parquet(os.path.join(d, "docs")).select(
        "docID", "conv_id", "turn_idx"
    )
    key_by_id = {r["docID"]: (r["conv_id"], r["turn_idx"]) for r in docs.collect()}
    docs_o = oracle.docs_with_ids(t1).select("docID", "conv_id", "turn_idx")
    key_by_id_o = {r["docID"]: (r["conv_id"], r["turn_idx"]) for r in docs_o.collect()}

    def norm(rows, keymap):
        out = {}
        for r in rows:
            out.setdefault(r["qid"], []).append(
                (round(r["score"], 9), keymap[r["docID"]])
            )
        # ties at equal score may order differently between docID spaces;
        # compare the score multiset and the per-score key sets
        return {
            q: sorted(v, key=lambda x: (-x[0], x[1])) for q, v in out.items()
        }

    assert norm(eng, key_by_id) == norm(ora, key_by_id_o)
    # input_hint invariant under the REMAPPED docID space: joining the
    # impact-ordered docs table back to transcripts on (conv_id, turn_idx)
    # reproduces every turn's text exactly
    full_docs = spark.read.parquet(os.path.join(d, "docs"))
    mism = (
        full_docs.select("conv_id", "turn_idx", F.col("text").alias("t_idx"))
        .join(t1.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"])
        .where(
            ~(F.col("t_idx").eqNullSafe(F.col("text")))
        )
        .count()
    )
    assert mism == 0
    assert full_docs.count() == t1.count()
    assert stats["blocks_total"] > 0
    # pruning economics in the realistic regime: k=10 (the t1 query set's
    # k=100 entries put ~10% of this tiny corpus in the top-k — nothing any
    # pruner could skip; the bench tier measures the production ratio)
    k10 = [(r["qid"], r["text"], 10) for r in t1_queries.collect()]
    # small_cutoff=0: on this tiny tier every term is under the default
    # full-decode cutoff (full decode IS the right production call here —
    # the whole corpus is a few thousand postings), so the staged pruning
    # machinery this assertion exists to exercise would otherwise not run
    _res10, stats10 = query.search(
        spark, d, k10, "wand", with_stats=True, small_cutoff=0
    )
    pruning = 1.0 - stats10["blocks_touched"] / stats10["blocks_total"]
    assert pruning > 0.3, f"pruning rate {pruning:.3f} too low: {stats10}"
    # and the default config must never decode MORE postings than that
    _res_d, stats_d = query.search(spark, d, k10, "wand", with_stats=True)
    assert stats_d["postings_touched"] <= stats_d["postings_total"]


def test_with_stats_exactness(spark, t1, t1_queries, idx_dir):
    """with_stats returns the same result rows as the plain call."""
    res, stats = query.search(spark, idx_dir, t1_queries, "wand", with_stats=True)
    a = [(r["qid"], r["rank"], r["docID"], round(r["score"], 12)) for r in res.orderBy("qid", "rank").collect()]
    b = [(r["qid"], r["rank"], r["docID"], round(r["score"], 12))
         for r in query.search(spark, idx_dir, t1_queries, "wand").orderBy("qid", "rank").collect()]
    assert a == b
    assert stats["blocks_touched"] <= stats["blocks_total"]


def test_append_index_matches_full_oracle(spark, t1, t1_queries, tmp_path_factory):
    """Append path: build on half the corpus, append the other half; queries
    over the appended index are rank-identical (key + score) to the brute
    oracle over the FULL corpus — BM25 semantics under merged statistics,
    with the safe (max_tf, min_dl) pruning bounds in effect."""
    from elastichash_spark.append import append_index

    d = str(tmp_path_factory.mktemp("idxapp") / "t1")
    half_a = t1.where(F.col("conv_id") < "conv000025")
    half_b = t1.where(F.col("conv_id") >= "conv000025")
    build.build_index(
        spark, half_a, d,
        IndexConfig(num_shards=4, salt_buckets=2, block_size=16, doc_order="doclen"),
    )
    s1 = append_index(spark, half_b, d, run_id="b1")
    assert s1["rows"] == half_b.count()
    # idempotent rerun
    s2 = append_index(spark, half_b, d, run_id="b1")
    assert s2["rows"] == s1["rows"] and s2["n_docs"] == s1["n_docs"]

    res, stats = query.search(spark, d, t1_queries, "wand", with_stats=True)
    eng = res.orderBy("qid", "rank").collect()
    exa = query.search(spark, d, t1_queries, "exact").orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["docID"], round(r["score"], 12)) for r in eng] == [
        (r["qid"], r["rank"], r["docID"], round(r["score"], 12)) for r in exa
    ]
    ora = oracle.oracle_topk(t1, t1_queries).orderBy("qid", "rank").collect()

    docs = spark.read.parquet(os.path.join(d, "docs")).select("docID", "conv_id", "turn_idx")
    key_by_id = {r["docID"]: (r["conv_id"], r["turn_idx"]) for r in docs.collect()}
    docs_o = oracle.docs_with_ids(t1).select("docID", "conv_id", "turn_idx")
    key_by_id_o = {r["docID"]: (r["conv_id"], r["turn_idx"]) for r in docs_o.collect()}

    def norm(rows, keymap):
        out = {}
        for r in rows:
            out.setdefault(r["qid"], []).append((round(r["score"], 9), keymap[r["docID"]]))
        return {q: sorted(v, key=lambda x: (-x[0], x[1])) for q, v in out.items()}

    assert norm(eng, key_by_id) == norm(ora, key_by_id_o)
    # safe bounds still prune (looser than exact maxima, never unsafe);
    # small_cutoff=0 forces the staged path — at this tier every term is
    # below the default full-decode cutoff and nothing would be measured
    res0, stats0 = query.search(
        spark, d, t1_queries, "wand", with_stats=True, small_cutoff=0
    )
    assert [(r["qid"], r["rank"], r["docID"], round(r["score"], 12))
            for r in res0.orderBy("qid", "rank").collect()] == [
        (r["qid"], r["rank"], r["docID"], round(r["score"], 12)) for r in exa
    ]
    assert stats0["blocks_touched"] < stats0["blocks_total"]
    # boost + min_should_match under the safe bounds: the drift-safe bound
    # scales by the boosted weight, and every strategy (the staged block-max
    # path included) stays identical to the full-corpus oracle
    boosts = _auto_boosts(t1_queries.select("qid", "text", "k").collect())
    ora_bm = oracle.oracle_topk(t1, t1_queries, boosts=boosts,
                                min_should_match=2).collect()
    assert ora_bm, "boosted msm=2 oracle empty — fixture too sparse to test"
    legs = [
        query.search(spark, d, t1_queries, strategy, boosts=boosts,
                     min_should_match=2, **kw)
        .orderBy("qid", "rank").collect()
        for strategy, kw in (("wand", {}), ("wand", {"small_cutoff": 0}),
                             ("exact", {}))
    ]
    for got in legs:
        assert [(r["qid"], r["rank"], r["docID"], r["score"]) for r in got] == [
            (r["qid"], r["rank"], r["docID"], r["score"]) for r in legs[-1]
        ]
        assert norm(got, key_by_id) == norm(ora_bm, key_by_id_o)


def test_chunked_blob_batches_identical(spark, t1, idx_dir, tmp_path):
    """Shrinking the per-batch blob ceiling to 2 KiB forces every kernel onto
    the multi-batch emission path (the >2 GiB-per-partition regime at test
    scale); the resulting index is byte-identical to the single-batch one."""
    d = str(tmp_path / "chunked")
    build.build_index(
        spark, t1, d,
        IndexConfig(num_shards=8, salt_buckets=4, batch_blob_bytes=2048),
    )
    assert _postings_fingerprint(spark, d) == _postings_fingerprint(spark, idx_dir)


def test_randomized_pruning_equivalence(spark, tmp_path):
    """Randomized adversarial sweep for the pruning bounds: small random
    corpora (heavy doclen ties, tiny blocks, impact ordering) and random
    query mixes (duplicates, absent terms, k beyond matches) — wand must be
    row-identical to exact on every one. A silent bound bug (seeding,
    MaxScore split, suffix-max overlap logic) is the highest-severity
    failure class this engine has; rank-identity on fixed fixtures alone
    would not sweep the space."""
    import numpy as np

    for seed in (101, 202, 303):
        rng = np.random.Generator(np.random.PCG64(seed))
        vocab = [f"t{i:02d}" for i in range(25)]
        probs = 1.0 / np.arange(1, len(vocab) + 1)
        probs /= probs.sum()
        rows = []
        for c in range(120):
            n_tok = int(rng.integers(1, 25))
            toks = rng.choice(vocab, size=n_tok, p=probs)
            rows.append((f"c{seed}_{c:04d}", 0, "user", " ".join(toks), None, None))
        corpus = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        d = str(tmp_path / f"fuzz{seed}")
        build.build_index(
            spark, corpus, d,
            IndexConfig(num_shards=3, salt_buckets=2, block_size=4, doc_order="doclen"),
        )
        queries = []
        for qi in range(12):
            n = int(rng.integers(1, 6))
            terms = list(rng.choice(vocab + ["zzabsent"], size=n))
            if qi % 3 == 0:
                terms.append(terms[0])  # duplicate term
            k = int(rng.choice([1, 3, 10, 100, 500]))
            queries.append((qi, " ".join(terms), k))
        e = query.search(spark, d, queries, "exact").orderBy("qid", "rank").collect()
        # both regimes: default cutoff (tiny terms full-decode; on this small
        # fixture everything is "small") AND small_cutoff=0, which forces the
        # staged machinery — block sampling, exact/range-max cross-term
        # bounds, lex tie refinement, escalation, candidate refinement — to
        # run on every term
        for cut in (query._SMALL_TERM, 0):
            w = (
                query.search(spark, d, queries, "wand", small_cutoff=cut)
                .orderBy("qid", "rank").collect()
            )
            assert [(r["qid"], r["rank"], r["docID"], r["score"]) for r in w] == [
                (r["qid"], r["rank"], r["docID"], r["score"]) for r in e
            ], f"wand != exact at seed {seed} cutoff {cut}"
        # min_should_match sweep on the same corpus/queries: exact's
        # full-decode match counts are the in-engine reference; the staged
        # WAND (msm-restricted thresholds + zero-cross-bound block prune)
        # must agree row-for-row in both small-term regimes
        msm = 2 if seed != 202 else 3
        e_m = (
            query.search(spark, d, queries, "exact", min_should_match=msm)
            .orderBy("qid", "rank").collect()
        )
        for variant, kw in (("wand", {}), ("wand", {"small_cutoff": 0})):
            w_m = (
                query.search(spark, d, queries, variant,
                             min_should_match=msm, **kw)
                .orderBy("qid", "rank").collect()
            )
            assert [(r["qid"], r["rank"], r["docID"], r["score"]) for r in w_m] == [
                (r["qid"], r["rank"], r["docID"], r["score"]) for r in e_m
            ], f"{variant} != exact at seed {seed} msm {msm} {kw}"
        if seed == 101:
            # anchor the exact msm path itself against the brute oracle.
            # The fuzz index uses doc_order="doclen", so engine docIDs are a
            # relabeling of the oracle's — compare the per-rank score
            # sequences (invariant under relabeling; ties carry equal
            # scores, so rank order of scores is still deterministic)
            qdf = spark.createDataFrame(queries, "qid long, text string, k int")
            o_m = (
                oracle.oracle_topk(corpus, qdf, min_should_match=msm)
                .orderBy("qid", "rank").collect()
            )
            assert [(r["qid"], r["rank"], round(r["score"], 9)) for r in e_m] == [
                (r["qid"], r["rank"], round(r["score"], 9)) for r in o_m
            ], f"exact != oracle at seed {seed} msm {msm}"


def test_append_crash_recovery(spark, t1, tmp_path_factory):
    """Simulated crash points in the append publish sequence recover on
    rerun: (a) between the two term-dictionary renames (terms dir absent,
    backup present) — the rerun restores the pre-append dictionary and
    completes with correct statistics; (b) between the summary manifest and
    the root-meta publish — the rerun finishes the root publish without
    re-executing or double-counting."""
    import json

    from elastichash_spark.append import append_index
    from elastichash_spark.manifest import manifest_path, read_manifest

    d = str(tmp_path_factory.mktemp("idxcrash") / "t1")
    half_a = t1.where(F.col("conv_id") < "conv000025")
    half_b = t1.where(F.col("conv_id") >= "conv000025")
    build.build_index(
        spark, half_a, d,
        IndexConfig(num_shards=4, salt_buckets=2, block_size=16, doc_order="doclen"),
    )
    terms = os.path.join(d, "terms")

    # (a) crash between os.rename(terms, bak) and os.rename(merged, terms)
    shutil.copytree(terms, terms + ".pre_b1")
    shutil.rmtree(terms)
    s1 = append_index(spark, half_b, d, run_id="b1")
    assert s1["rows"] == half_b.count()
    meta = read_manifest(d)
    assert meta["appends"] == ["b1"] and meta["n_docs"] == t1.count()
    # post-recovery results match the brute oracle over the full corpus
    q = [(0, "the w00001", 10)]
    eng = query.search(spark, d, q, "wand").orderBy("rank").collect()
    exa = query.search(spark, d, q, "exact").orderBy("rank").collect()
    assert [(r["docID"], r["score"]) for r in eng] == [
        (r["docID"], r["score"]) for r in exa
    ]
    ora_scores = sorted(
        round(r["score"], 9)
        for r in oracle.oracle_topk(
            t1, spark.createDataFrame(q, "qid long, text string, k int")
        ).collect()
    )
    assert sorted(round(r["score"], 9) for r in eng) == ora_scores

    # (b) crash between summary manifest and root publish: strip the run
    # from the root meta and stale its stats, then re-call
    stale = {**meta, "appends": [], "n_docs": 1, "avgdl": 1.0, "appended": False}
    with open(manifest_path(d), "w") as f:
        json.dump(stale, f)
    s2 = append_index(spark, half_b, d, run_id="b1")
    meta2 = read_manifest(d)
    assert s2["n_docs"] == s1["n_docs"]
    assert meta2["appends"] == ["b1"]
    assert meta2["n_docs"] == t1.count() and meta2["appended"] is True


def test_append_multi_batch_randomized(spark, t1, t1_queries, tmp_path_factory):
    """Two sequential appends over a random 3-way corpus split: term ids
    stay stable across merges, shard ranges stack ([0,4), [4,8), [8,12)),
    and wand == exact == full-corpus oracle after each append."""
    from elastichash_spark.append import append_index
    from elastichash_spark.manifest import read_manifest

    rng = np.random.Generator(np.random.PCG64(77))
    convs = sorted({r["conv_id"] for r in t1.select("conv_id").distinct().collect()})
    labels = {c: int(rng.integers(0, 3)) for c in convs}
    parts = [
        t1.where(F.col("conv_id").isin([c for c, g in labels.items() if g == i]))
        for i in range(3)
    ]
    d = str(tmp_path_factory.mktemp("idxmulti") / "t1")
    build.build_index(
        spark, parts[0], d,
        IndexConfig(num_shards=4, salt_buckets=2, block_size=16, doc_order="doclen"),
    )
    terms_after_base = {
        r["term"]: r["termID"]
        for r in spark.read.parquet(os.path.join(d, "terms")).collect()
    }
    s1 = append_index(spark, parts[1], d, run_id="m1")
    s2 = append_index(spark, parts[2], d, run_id="m2")
    assert s1["base_shard"] == 4 and s2["base_shard"] == 8
    meta = read_manifest(d)
    assert meta["appends"] == ["m1", "m2"]
    assert meta["n_docs"] == t1.count()
    # existing termIDs never move across merges
    terms_final = {
        r["term"]: r["termID"]
        for r in spark.read.parquet(os.path.join(d, "terms")).collect()
    }
    for t, tid in terms_after_base.items():
        assert terms_final[t] == tid
    # rank identity vs the full-corpus oracle (key+score compare)
    eng = query.search(spark, d, t1_queries, "wand").orderBy("qid", "rank").collect()
    exa = query.search(spark, d, t1_queries, "exact").orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["docID"], r["score"]) for r in eng] == [
        (r["qid"], r["rank"], r["docID"], r["score"]) for r in exa
    ]
    ora = oracle.oracle_topk(t1, t1_queries).orderBy("qid", "rank").collect()

    # cross-docID-space comparison: the engine tie-breaks on ITS docID order
    # (doclen + append offsets), the oracle on key order — when k cuts inside
    # a score-tie group both legitimately return different tie members, so
    # rank identity across id spaces means equal SCORE sequences (the suite's
    # oracle gate resolves the same ambiguity by re-ranking on (rounded
    # score, doc_id); wand == exact above pins internal determinism)
    def score_seq(rows):
        out = {}
        for r in rows:
            out.setdefault(r["qid"], []).append(round(r["score"], 9))
        return {q: sorted(v) for q, v in out.items()}

    assert score_seq(eng) == score_seq(ora)


def test_append_foreign_unfinished_guard(spark, t1, tmp_path_factory):
    """Starting append B while a DIFFERENT append A is unfinished (its
    terms.pre_A backup or appends/A directory exists but the root manifest
    never published it) must refuse loudly: B would otherwise merge df
    against A's half-published dictionary and reuse A's shard range.
    Backups of PUBLISHED appends are lineage and must NOT block."""
    from elastichash_spark.append import append_index

    d = str(tmp_path_factory.mktemp("idxguard") / "t1")
    third = t1.where(F.col("conv_id") < "conv000017")
    rest_a = t1.where(
        (F.col("conv_id") >= "conv000017") & (F.col("conv_id") < "conv000034")
    )
    rest_b = t1.where(F.col("conv_id") >= "conv000034")
    build.build_index(
        spark, third, d,
        IndexConfig(num_shards=4, salt_buckets=2, block_size=16, doc_order="doclen"),
    )
    terms = os.path.join(d, "terms")

    # simulate append A crashed mid-swap: backup present, A unpublished
    shutil.copytree(terms, terms + ".pre_aa")
    with pytest.raises(RuntimeError, match="unfinished append"):
        append_index(spark, rest_b, d, run_id="bb")
    shutil.rmtree(terms + ".pre_aa")

    # simulate append A crashed mid-pipeline: appends/A exists, no summary
    os.makedirs(os.path.join(d, "appends", "aa", "tf"), exist_ok=True)
    with pytest.raises(RuntimeError, match="unfinished append"):
        append_index(spark, rest_b, d, run_id="bb")
    shutil.rmtree(os.path.join(d, "appends", "aa"))

    # a COMPLETED append's leftovers (its .pre_ backup + summary dir) are
    # lineage: the next append must proceed
    s1 = append_index(spark, rest_a, d, run_id="aa")
    assert os.path.exists(terms + ".pre_aa")  # backup kept as lineage
    s2 = append_index(spark, rest_b, d, run_id="bb")
    assert s2["n_docs"] == t1.count()
    assert read_manifest(d)["appends"] == ["aa", "bb"]
    assert s1["base_shard"] == 4 and s2["base_shard"] == 8


def test_index_format_tag_tracks_format_changes():
    """The suite-cache tag is a content hash: any IndexConfig field change
    (block_size here) or codec format bump yields a different tag, identical
    inputs yield the identical tag — no hand-bumped literal to forget."""
    from elastichash_spark import codec as _codec
    from elastichash_spark.build import index_format_tag

    base = IndexConfig(num_shards=8, salt_buckets=4, doc_order="doclen")
    same = IndexConfig(num_shards=8, salt_buckets=4, doc_order="doclen")
    assert index_format_tag(base) == index_format_tag(same)
    assert index_format_tag(base) != index_format_tag(
        IndexConfig(num_shards=8, salt_buckets=4, doc_order="doclen",
                    block_size=64)
    )
    assert index_format_tag(base) != index_format_tag(
        IndexConfig(num_shards=8, salt_buckets=4, doc_order="key")
    )
    orig = _codec.FORMAT_VERSION
    try:
        _codec.FORMAT_VERSION = orig + 1
        bumped = index_format_tag(base)
    finally:
        _codec.FORMAT_VERSION = orig
    assert bumped != index_format_tag(base), (
        "codec FORMAT_VERSION bump must change the tag"
    )


def test_collapse_topk_semantics(spark):
    """ES field-collapsing contract (query.collapse_topk): one row per
    group — its best member under (score DESC, key ASC) — groups ranked by
    that member, top-k cut, and a group never appears through a non-best
    member. Covers the tie-break on both levels and the broadcast and
    shuffle join paths returning identical results."""
    # qid 1: groups A{1:5.0, 3:7.0}, B{2:7.0, 4:1.0} — tie 7.0 between
    # docs 3 (grp A) and 2 (grp B): doc 2 wins rank 1 by key ASC.
    # qid 2: only group A{5:2.0}.
    results = spark.createDataFrame(
        [(1, 1, 5.0), (1, 3, 7.0), (1, 2, 7.0), (1, 4, 1.0), (2, 5, 2.0)],
        "qid long, docID long, score double",
    )
    groups = spark.createDataFrame(
        [(1, "A"), (3, "A"), (2, "B"), (4, "B"), (5, "A"), (99, "C")],
        "docID long, conv_id string",
    )
    for bcast in (True, False):
        got = (
            query.collapse_topk(results, groups, k=2,
                                broadcast_results=bcast)
            .orderBy("qid", "rank")
            .collect()
        )
        rows = [(r.qid, r.rank, r.conv_id, r.docID, r.score) for r in got]
        assert rows == [
            (1, 1, "B", 2, 7.0),   # tie 7.0 broken by docID 2 < 3
            (1, 2, "A", 3, 7.0),   # grp A represented by its best (3), not 1
            (2, 1, "A", 5, 2.0),   # grp C absent: no member in results
        ]
    # k cutoff: k=1 keeps only the best group per qid
    top1 = query.collapse_topk(results, groups, k=1).collect()
    assert {(r.qid, r.conv_id) for r in top1} == {(1, "B"), (2, "A")}


def test_fetch_context_semantics(spark):
    """Context-window retrieval contract (query.fetch_context): every hit
    returns with its ±window same-conversation turns, the hit itself at
    rel_pos 0, conversation edges clipped (no fabricated rows), payload
    columns passed through as ctx_<name>, and the broadcast and shuffle
    join paths identical."""
    turns = spark.createDataFrame(
        [(10, "A", 0, "a0"), (11, "A", 1, "a1"), (12, "A", 2, "a2"),
         (13, "A", 3, "a3"), (20, "B", 0, "b0"), (21, "B", 1, "b1")],
        "docID long, conv_id string, turn_idx int, text string",
    )
    results = spark.createDataFrame(
        [(1, 1, 11, 5.0), (1, 2, 20, 3.0), (2, 1, 13, 9.0)],
        "qid long, rank int, docID long, score double",
    )
    for bcast in (True, False):
        got = query.fetch_context(
            results, turns, window=1, payload_cols=["text"],
            broadcast_results=bcast,
        ).collect()
        rows = sorted((r.qid, r.docID, r.ctx_docID, r.rel_pos, r.ctx_text)
                      for r in got)
        assert rows == [
            (1, 11, 10, -1, "a0"), (1, 11, 11, 0, "a1"),
            (1, 11, 12, 1, "a2"),              # hit mid-conv: full window
            (1, 20, 20, 0, "b0"), (1, 20, 21, 1, "b1"),  # clipped at start
            (2, 13, 12, -1, "a2"), (2, 13, 13, 0, "a3"),  # clipped at end
        ]
        # hit columns pass through untouched (rank/score from results)
        hit_rows = {(r.qid, r.docID): (r.rank, r.score) for r in got}
        assert hit_rows[(1, 11)] == (1, 5.0) and hit_rows[(2, 13)] == (1, 9.0)


def test_percolate_semantics(spark):
    """ES percolator contract (query.percolate): any-of default, msm
    boundary, negation veto, msm > terms matches nothing, absent and
    empty-tokenizing queries match nothing, ^boost parses but is ignored,
    phrase registration rejected loudly, DataFrame registry with
    min_should_match column equals the tuple form."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha delta"), (3, "beta BETA beta"),
         (4, "epsilon only"), (5, "alpha beta veto"),
         (6, "gamma alpha beta"),   # phrase at END of doc (boundary)
         (7, "beta alpha")],        # both terms, wrong order
        "doc_id long, text string",
    )
    qs = [
        (10, "alpha", 1),            # docs 1, 2, 5, 6, 7
        (11, "alpha beta", 2),       # both required: docs 1, 5, 6, 7
        (12, "alpha beta -veto", 1), # negation removes doc 5
        (13, "beta", 2),             # msm > distinct terms: nothing
        (14, "zzznope", 1),          # absent term: nothing
        (15, "...", 1),              # tokenizes to nothing: nothing
        (16, "alpha^3", 1),          # boost ignored, still matches
        (17, '"alpha beta"', 1),     # phrase: consecutive, in order only
        (18, '"alpha"', 1),          # 1-token phrase = plain term
    ]
    got = sorted((r.doc_id, r.qid, r.n_matched)
                 for r in query.percolate(qs, docs).collect())
    want = sorted([
        (1, 10, 1), (2, 10, 1), (5, 10, 1), (6, 10, 1), (7, 10, 1),
        (1, 11, 2), (5, 11, 2), (6, 11, 2), (7, 11, 2),
        (1, 12, 2), (2, 12, 1), (3, 12, 1),  # doc 5 vetoed; beta-only ok
        (6, 12, 2), (7, 12, 2),
        (1, 16, 1), (2, 16, 1), (5, 16, 1), (6, 16, 1), (7, 16, 1),
        # phrase: docs 1, 5 mid-text, 6 at the boundary; NOT 7 (reversed),
        # NOT 2 (beta absent — candidate stage already drops it)
        (1, 17, 2), (5, 17, 2), (6, 17, 2),
        (1, 18, 1), (2, 18, 1), (5, 18, 1), (6, 18, 1), (7, 18, 1),
    ])
    assert got == want
    # DataFrame registry form with explicit min_should_match column
    qdf = spark.createDataFrame(
        [(11, "alpha beta", 2)], "qid long, text string, min_should_match int")
    got_df = sorted((r.doc_id, r.qid, r.n_matched)
                    for r in query.percolate(qdf, docs).collect())
    assert got_df == [(1, 11, 2), (5, 11, 2), (6, 11, 2), (7, 11, 2)]


def test_fetch_context_randomized_vs_bruteforce(spark):
    """fetch_context against a brute-force python reference on randomized
    conversation structures: variable conversation lengths (incl. many
    singletons), non-contiguous turn indices (gaps — the between-predicate
    must select by turn distance, not adjacency), hits at edges, and
    windows 0/1/3."""
    import random

    for seed, window in ((1, 0), (2, 1), (3, 3)):
        rng = random.Random(seed)
        turns, doc = [], 0
        for conv in range(rng.randint(5, 12)):
            t = 0
            for _ in range(rng.randint(1, 7)):
                t += rng.randint(1, 3)  # gaps: turn_idx non-contiguous
                turns.append((doc, f"c{conv}", t))
                doc += 1
        hits = [(q, r + 1, d, float(10 - r))
                for q in (1, 2)
                for r, d in enumerate(rng.sample(range(doc), min(5, doc)))]
        tdf = spark.createDataFrame(
            turns, "docID long, conv_id string, turn_idx int")
        rdf = spark.createDataFrame(
            hits, "qid long, rank int, docID long, score double")
        got = sorted(
            (r.qid, r.docID, r.ctx_docID, r.rel_pos)
            for r in query.fetch_context(rdf, tdf, window=window).collect())
        meta = {d: (c, t) for d, c, t in turns}
        want = sorted(
            (q, d, cd, ct - meta[d][1])
            for q, _r, d, _s in hits
            for cd, (cc, ct) in meta.items()
            if cc == meta[d][0] and abs(ct - meta[d][1]) <= window)
        assert got == want


def _auto_boosts(qrows) -> dict[int, dict[str, float]]:
    """Deterministic per-query boost maps over the fixture queries: first
    token boosted 3x (reshapes the MaxScore split), last token damped to
    0.25 (bounds must shrink, not grow), single-token queries get only the
    up-boost. Covers hot-term, df=0, and duplicate-token query kinds."""
    from elastichash_spark.tokenize import tokenize_py

    boosts = {}
    for r in qrows:
        toks = sorted(set(tokenize_py(r["text"])))
        if not toks:
            continue
        b = {toks[0]: 3.0}
        if len(toks) > 1:
            b[toks[-1]] = 0.25
        boosts[r["qid"]] = b
    return boosts


def test_boosted_search_rank_identity(spark, t1, t1_queries, idx_dir):
    """ES ``term^boost`` (search(boosts=...)): every strategy returns results
    rank-identical (and score-equal) to the boosted brute-force oracle —
    i.e. boosting scales the pruning bounds correctly and WAND stays
    lossless when the boost inflates contributions past the stored block
    maxima."""
    qrows = t1_queries.select("qid", "text", "k").collect()
    boosts = _auto_boosts(qrows)
    assert boosts, "fixture queries must produce at least one boost map"
    ora = (
        oracle.oracle_topk(t1, t1_queries, boosts=boosts)
        .orderBy("qid", "rank")
        .collect()
    )
    want_ranks = [(r["qid"], r["rank"], r["docID"]) for r in ora]
    want_scores = np.array([r["score"] for r in ora])
    for strategy, kw in (("wand", {}), ("exact", {}),
                         ("wand", {"small_cutoff": 0})):
        eng = (
            query.search(spark, idx_dir, t1_queries, strategy=strategy,
                         boosts=boosts, **kw)
            .orderBy("qid", "rank")
            .collect()
        )
        assert [(r["qid"], r["rank"], r["docID"]) for r in eng] == want_ranks, (strategy, kw)
        diffs = np.abs(np.array([r["score"] for r in eng]) - want_scores)
        assert len(diffs) > 0 and diffs.max() < 1e-9, (strategy, kw)
    # boosts actually change the ranking (guard against a no-op pass)
    plain = query.search(spark, idx_dir, t1_queries, strategy="wand")
    plain_ranks = [
        (r["qid"], r["rank"], r["docID"])
        for r in plain.orderBy("qid", "rank").collect()
    ]
    assert plain_ranks != want_ranks


def test_boost_validation_and_parse():
    """Non-positive boosts are rejected loudly (they would break the
    non-negative-contribution invariant of the pruning bounds); the
    query-string ``term^2`` syntax parses to (clean text, token boosts)."""
    from elastichash_spark.query import parse_boosts, plan_queries

    with pytest.raises(ValueError, match="must be > 0"):
        plan_queries(None, [(1, "alpha beta", 10)], boosts={1: {"alpha": 0.0}})
    with pytest.raises(ValueError, match="must be > 0"):
        plan_queries(None, [(1, "alpha", 10)], boosts={1: {"alpha": -2.0}})

    text, b = parse_boosts("Hello^2 world code^0.5 plain")
    assert text == "Hello world code plain"
    assert b == {"hello": 2.0, "code": 0.5}
    # last marker wins on repeats; unmarked repeat leaves the entry intact
    text, b = parse_boosts("x^2 x^3")
    assert text == "x x" and b == {"x": 3.0}


def test_min_should_match_rank_identity(spark, t1, t1_queries, idx_dir):
    """ES bool ``minimum_should_match``: for msm in {2, 3}, every strategy
    (and the forced staged-WAND path) is rank- and score-identical to the
    brute-force oracle restricted to docs matching >= msm distinct query
    terms — i.e. the msm-aware thresholds stay lossless and the msm-bonus
    block pruning (zero cross-term bound => ineligible) drops no eligible
    doc."""
    for msm in (2, 3):
        ora = (
            oracle.oracle_topk(t1, t1_queries, min_should_match=msm)
            .orderBy("qid", "rank")
            .collect()
        )
        want = [(r["qid"], r["rank"], r["docID"], round(r["score"], 9))
                for r in ora]
        assert want, f"oracle empty at msm={msm} — fixture too sparse to test"
        runs = [("wand", {}), ("exact", {}), ("wand", {"small_cutoff": 0})]
        for strategy, kw in runs:
            eng = (
                query.search(spark, idx_dir, t1_queries, strategy=strategy,
                             min_should_match=msm, **kw)
                .orderBy("qid", "rank")
                .collect()
            )
            got = [(r["qid"], r["rank"], r["docID"], round(r["score"], 9))
                   for r in eng]
            assert got == want, (strategy, kw, msm)
    # msm actually restricts (guard against a no-op pass)
    plain = query.search(spark, idx_dir, t1_queries, strategy="wand").count()
    restricted = query.search(
        spark, idx_dir, t1_queries, strategy="wand", min_should_match=2
    ).count()
    assert restricted < plain


def test_min_should_match_edges(spark, t1, t1_queries, idx_dir):
    """msm edge semantics: unsatisfiable requirement (msm > resolvable
    terms) returns nothing for that query, per-qid dict form applies only
    to the named query, msm composes with boosts, msm < 1 raises."""
    qrows = t1_queries.select("qid", "text", "k").collect()
    multi = next(r for r in qrows if len(set(r["text"].split())) >= 3)
    single = next(r for r in qrows if len(set(r["text"].split())) == 1)
    # unsatisfiable: more required matches than the query has tokens
    assert query.search(
        spark, idx_dir, [(1, single["text"], 10)], min_should_match=2
    ).count() == 0
    # dict form: restriction hits only the named qid
    both = [(int(multi["qid"]), multi["text"], 50),
            (int(single["qid"]), single["text"], 50)]
    res = query.search(spark, idx_dir, both,
                       min_should_match={int(multi["qid"]): 2})
    per_qid = {r["qid"]: 0 for r in res.collect()}
    assert int(single["qid"]) in per_qid  # unrestricted query unaffected
    # composes with boosts: still oracle-identical
    from elastichash_spark.tokenize import tokenize_py
    toks = sorted(set(tokenize_py(multi["text"])))
    boosts = {int(multi["qid"]): {toks[0]: 3.0}}
    qdf = t1_queries.where(f"qid={int(multi['qid'])}")
    ora = oracle.oracle_topk(t1, qdf, boosts=boosts, min_should_match=2) \
        .orderBy("rank").collect()
    eng = query.search(spark, idx_dir, qdf, strategy="wand", boosts=boosts,
                       min_should_match=2).orderBy("rank").collect()
    assert [(r["docID"], round(r["score"], 9)) for r in eng] == \
        [(r["docID"], round(r["score"], 9)) for r in ora]
    with pytest.raises(ValueError, match="must be >= 1"):
        query.plan_queries(None, [(1, "a b", 10)], min_should_match=0)


def test_offset_pagination(spark, t1, t1_queries, idx_dir):
    """ES from/size pagination (search(offset=...)): consecutive pages of
    size p concatenate bit-for-bit into the unpaginated top-(3p) — global
    rank numbers, no overlap, no gap — under every strategy; offset
    composes with min_should_match; offset < 0 raises; a page past the end
    of the ranking is empty."""
    qdf = t1_queries.limit(4)
    p = 3
    base = (
        query.search(spark, idx_dir, [(r["qid"], r["text"], 3 * p)
                                      for r in qdf.collect()])
        .orderBy("qid", "rank").collect()
    )
    want = [(r["qid"], r["rank"], r["docID"], r["score"]) for r in base]
    for strategy, kw in (("wand", {}), ("exact", {}),
                         ("wand", {"small_cutoff": 0})):
        pages = []
        for page in range(3):
            rows = query.search(
                spark, idx_dir,
                [(r["qid"], r["text"], p) for r in qdf.collect()],
                strategy=strategy, offset=page * p, **kw,
            ).collect()
            pages.extend((r["qid"], r["rank"], r["docID"], r["score"])
                         for r in rows)
        assert sorted(pages) == sorted(want), (strategy, kw)
    # composes with msm: page 2 of the msm-restricted ranking
    multi = [r for r in t1_queries.collect()
             if len(set(r["text"].split())) >= 3][:2]
    qs = [(r["qid"], r["text"], 100) for r in multi]
    full = query.search(spark, idx_dir, qs, min_should_match=2) \
        .orderBy("qid", "rank").collect()
    paged = query.search(spark, idx_dir,
                         [(q, t, 5) for q, t, _ in qs],
                         min_should_match=2, offset=5).collect()
    want_slice = sorted((r["qid"], r["rank"], r["docID"]) for r in full
                        if 5 < r["rank"] <= 10)
    assert sorted((r["qid"], r["rank"], r["docID"]) for r in paged) == want_slice
    # far page -> empty; negative offset -> loud
    assert query.search(spark, idx_dir, qs[:1], offset=10**6).count() == 0
    with pytest.raises(ValueError, match="offset must be >= 0"):
        query.plan_queries(None, [(1, "a", 5)], offset=-1)


def test_phrase_search(spark, t1, idx_dir):
    """ES match_phrase (phrase_search): top-k equals a pure-python
    POSITIONAL oracle — score = idf_sum(distinct phrase terms) * BM25
    tf-saturation of the overlap-counted phrase frequency, ranked
    (score DESC, docID ASC). Covers a real bigram, a trigram, a reversed
    bigram (terms co-occur, sequence likely absent — drives the
    iterative-deepening/exhaustion path), an absent-token phrase (empty),
    and a single-token phrase (degrades to plain match — pf == tf there)."""
    import math

    from elastichash_spark.tokenize import tokenize_py

    texts = [r["text"] for r in t1.select("text").limit(5).collect()]
    toks = tokenize_py(texts[0])
    cases = {
        1: " ".join(toks[1:3]),          # bigram present in doc 0
        2: " ".join(toks[1:4]),          # trigram
        3: " ".join(toks[2:0:-1]),       # reversed bigram
        4: "zzznope " + toks[0],         # unresolvable token -> empty
        5: toks[1],                      # single token = plain match
    }
    qdf = [(q, p, 7) for q, p in cases.items()]
    res = query.phrase_search(spark, idx_dir, qdf).orderBy("qid", "rank").collect()
    got = [(r["qid"], r["rank"], r["docID"], round(r["score"], 9)) for r in res]

    # python positional oracle over the same docID space
    corpus = [(int(r["docID"]), tokenize_py(r["text"]))
              for r in oracle.docs_with_ids(t1).select("docID", "text").collect()]
    n_docs = len(corpus)
    avgdl = sum(len(t) for _d, t in corpus) / n_docs
    df: dict[str, int] = {}
    for _d, t in corpus:
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    want = []
    for q, p in cases.items():
        phr = tokenize_py(p)
        if len(phr) == 1:
            # plain match: BM25 of the single term (pf == tf)
            qspark = spark.createDataFrame(
                [(q, p, 7)], "qid long, text string, k int")
            want += [
                (r["qid"], r["rank"], r["docID"], round(r["score"], 9))
                for r in oracle.oracle_topk(t1, qspark).orderBy("rank").collect()
            ]
            continue
        idf_sum = sum(
            math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            for t in set(phr) if t in df
        )
        scored = []
        for d, t in corpus:
            pf = sum(1 for i in range(len(t) - len(phr) + 1)
                     if t[i:i + len(phr)] == phr)
            if pf:
                sat = pf / (pf + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
                scored.append((idf_sum * sat, d))
        scored.sort(key=lambda x: (-x[0], x[1]))
        want += [(q, i + 1, d, round(s, 9))
                 for i, (s, d) in enumerate(scored[:7])]
    assert got == sorted(want)
    assert {r[0] for r in got} >= {1, 5}  # the positive cases actually hit
    assert all(r[0] != 4 for r in got)


def _lev(a: str, b: str) -> int:
    """Classic Levenshtein (matches Spark/DuckDB built-ins: transposition
    costs 2)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _vocab(spark, t1):
    tdict = oracle.term_dict(oracle.tf_table(oracle.docs_with_ids(t1)))
    return sorted(
        ((r["term"], int(r["df"])) for r in tdict.collect()),
        key=lambda x: (-x[1], x[0]),
    )


def _py_expand(vocab, tok, dist=1, prefix=0, max_exp=50):
    hits = [
        t for t, _df in vocab
        if abs(len(t) - len(tok)) <= dist
        and t[:prefix] == tok[:prefix]
        and _lev(t, tok) <= dist
    ]  # vocab pre-sorted by (df DESC, term ASC) = the selection order
    return hits[:max_exp]


def test_fuzzy_search_rank_identity(spark, t1, idx_dir):
    """ES match fuzziness=1 (search(fuzzy=1)): identical to (a) the engine
    run on the python-expanded OR query and (b) the brute oracle on that
    expansion, for both strategies — fuzzy is pure query rewriting, the
    kernel stays exact. Typos are data-driven mutations of the fixture's
    own vocabulary (deletion, substitution), plus an unresolvable token."""
    vocab = _vocab(spark, t1)
    long_terms = [t for t, _ in vocab if len(t) >= 4][:3]
    assert len(long_terms) == 3, "fixture vocab too small for fuzzy test"
    fq = [
        (0, long_terms[0][:-1], 5),                       # trailing deletion
        (1, "z" + long_terms[1][1:] + " " + long_terms[2], 8),  # sub + exact
        (2, "zzznomatchzz", 5),                            # expands to nothing
        (3, long_terms[0] + " " + long_terms[0][:-1], 6),  # token + its typo
    ]
    expanded = []
    for qid, text, k in fq:
        terms = sorted({e for tok in text.split() for e in _py_expand(vocab, tok)})
        expanded.append((qid, " ".join(terms) if terms else "zzznomatchzz", k))
    ora = oracle.oracle_topk(
        t1, spark.createDataFrame(expanded, "qid long, text string, k int")
    ).orderBy("qid", "rank").collect()
    assert {r["qid"] for r in ora} == {0, 1, 3}, "expansion fixture went empty"
    want = [(r["qid"], r["rank"], r["docID"], round(r["score"], 9)) for r in ora]
    rewritten = query.search(spark, idx_dir, expanded, strategy="wand")\
        .orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["docID"], round(r["score"], 9))
            for r in rewritten] == want
    for strat in ("wand", "exact"):
        got = query.search(spark, idx_dir, fq, strategy=strat, fuzzy=1)\
            .orderBy("qid", "rank").collect()
        assert [(r["qid"], r["rank"], r["docID"], round(r["score"], 9))
                for r in got] == want, strat


def test_fuzzy_expansion_knobs(spark, t1, idx_dir):
    """fuzzy_expansions: max_expansions keeps the highest-df neighborhood
    (term-ASC tie-break), prefix_length pins the leading chars, distance 2
    widens the net, and fuzzy < 1 is rejected — each vs the python oracle."""
    from elastichash_spark.build import load_index

    _meta, _docs, terms_df, _posts = load_index(spark, idx_dir)
    vocab = _vocab(spark, t1)
    toks = sorted({t[:-1] for t, _ in vocab if len(t) >= 4} | {"zz"})
    for dist, prefix, max_exp in ((1, 0, 50), (1, 1, 50), (1, 0, 1), (2, 0, 2)):
        got = query.fuzzy_expansions(
            terms_df, toks, dist, prefix_length=prefix, max_expansions=max_exp
        )
        want = {
            tok: _py_expand(vocab, tok, dist, prefix, max_exp) for tok in toks
        }
        want = {tok: exp for tok, exp in want.items() if exp}
        assert {k: [t for t, _tid, _idf in v] for k, v in got.items()} == want, (
            dist, prefix, max_exp,
        )
    assert any(len(v) > 1 for v in (
        {tok: _py_expand(vocab, tok, 2, 0, 2) for tok in toks}
    ).values()), "distance-2 case never multi-expanded — fixture too sparse"
    with pytest.raises(ValueError, match="fuzzy"):
        query.fuzzy_expansions(terms_df, toks, 0)


def test_more_like_this(spark, t1, idx_dir):
    """query.more_like_this == (python top-25 term selection by rounded
    tf*idf) -> engine search at k+1 -> seed stripped -> reranked. Also: the
    seed never appears in its own results and ranks are contiguous from 1."""
    import math

    from elastichash_spark.tokenize import tokenize_py

    docs = spark.read.parquet(os.path.join(idx_dir, "docs")) \
        .select("docID", "text").collect()
    n = len(docs)
    vocab = dict(_vocab(spark, t1))  # term -> df
    by_len = sorted(docs, key=lambda r: (-len(tokenize_py(r["text"])), r["docID"]))
    seeds = [(0, int(by_len[0]["docID"]), 5), (1, int(by_len[3]["docID"]), 5)]
    text_of = {int(r["docID"]): r["text"] for r in docs}

    def select_terms(text):
        tf = {}
        for t in tokenize_py(text):
            tf[t] = tf.get(t, 0) + 1
        scored = sorted(
            ((round(c * math.log((n - vocab[t] + 0.5) / (vocab[t] + 0.5) + 1.0), 6), t)
             for t, c in tf.items()),
            key=lambda x: (-x[0], x[1]),
        )
        return [t for _s, t in scored[:25]]

    want_rows = []
    for qid, seed, k in seeds:
        terms = select_terms(text_of[seed])
        assert terms, "seed doc tokenized to nothing — fixture too sparse"
        res = query.search(spark, idx_dir, [(qid, " ".join(terms), k + 1)],
                           strategy="wand").orderBy("rank").collect()
        kept = [r for r in res if r["docID"] != seed][:k]
        want_rows += [(qid, i + 1, r["docID"], round(r["score"], 9))
                      for i, r in enumerate(kept)]
    got = query.more_like_this(spark, idx_dir, seeds, id_col="docID") \
        .orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["docID"], round(r["score"], 9))
            for r in got] == sorted(want_rows)
    seed_of = dict((q, s) for q, s, _k in seeds)
    assert all(r["docID"] != seed_of[r["qid"]] for r in got)
    assert query.more_like_this(spark, idx_dir, [], id_col="docID").count() == 0


def test_bool_search_must_not(spark, t1, idx_dir):
    """bool_search == plain search with denied docs removed and reranked
    (python-filtered oracle), for a hot-term exclusion at small k (forces
    iterative deepening past the first candidate page), a vocab-absent
    exclusion (no-op), a global-string form, and a no-exclusion qid."""
    from elastichash_spark.tokenize import tokenize_py

    vocab = _vocab(spark, t1)  # (term, df) sorted df DESC
    hot, second = vocab[0][0], vocab[1][0]
    queries = [(0, hot, 3), (1, f"{hot} {second}", 5), (2, hot, 4)]
    must_not = {0: second, 1: "zzznotavocabword"}  # qid 2: no exclusion
    # python oracle: full ranking, drop docs containing the excluded term
    full = query.search(spark, idx_dir, [(q, t, 10**6) for q, t, _k in queries],
                        strategy="wand").orderBy("qid", "rank").collect()
    docs = spark.read.parquet(os.path.join(idx_dir, "docs")) \
        .select("docID", "text").collect()
    has_term = {t: {int(r["docID"]) for r in docs
                    if t in set(tokenize_py(r["text"]))}
                for t in {second}}
    want = []
    for qid, _t, k in queries:
        deny = has_term.get(must_not.get(qid, ""), set())
        kept = [r for r in full if r["qid"] == qid and r["docID"] not in deny][:k]
        want += [(qid, i + 1, r["docID"], round(r["score"], 9))
                 for i, r in enumerate(kept)]
    got = query.bool_search(spark, idx_dir, queries, must_not=must_not) \
        .orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["docID"], round(r["score"], 9))
            for r in got] == sorted(want)
    # the deepening case actually removed something from the first page
    q0_full_top3 = [r["docID"] for r in full if r["qid"] == 0][:3]
    q0_got = [r["docID"] for r in got if r["qid"] == 0]
    assert q0_got != q0_full_top3 or not (set(q0_full_top3) & has_term[second]), \
        "exclusion fixture never bit — pick different terms"
    # global-string form: one exclusion applied to every query
    got_g = query.bool_search(spark, idx_dir, [(0, hot, 3)], must_not=second) \
        .orderBy("rank").collect()
    assert [(r["rank"], r["docID"]) for r in got_g] == \
        [(r["rank"], r["docID"]) for r in got if r["qid"] == 0]


def test_dis_max_rank_identity(spark, t1, idx_dir):
    """dis_max at SMALL k (the containment-proof regime — per-term lists cut
    at k, not full depth) equals the python max-composition over FULL
    single-term rankings, including heavy score ties; empty queries and
    all-absent terms return nothing."""
    from elastichash_spark.tokenize import tokenize_py

    vocab = _vocab(spark, t1)
    terms = [vocab[0][0], vocab[1][0], vocab[4][0]]
    queries = [(0, " ".join(terms), 4), (1, f"{terms[0]} zzabsent", 3),
               (2, "zzabsent1 zzabsent2", 5)]
    # python oracle: full single-term rankings -> max per doc -> top-k
    best: dict[tuple[int, int], float] = {}
    for qid, text, _k in queries:
        toks = sorted(set(tokenize_py(text)))
        full = query.search(
            spark, idx_dir, [(i, t, 10**6) for i, t in enumerate(toks)],
            strategy="exact").collect()
        tok_of = {i: t for i, t in enumerate(toks)}
        for r in full:
            if tok_of[r["qid"]].startswith("zzabsent"):
                continue
            key = (qid, int(r["docID"]))
            best[key] = max(best.get(key, 0.0), r["score"])
    want = []
    for qid, _t, k in queries:
        rows = sorted(
            ((s, d) for (q, d), s in best.items() if q == qid),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        want += [(qid, i + 1, d, round(s, 9)) for i, (s, d) in enumerate(rows)]
    got = query.dis_max(spark, idx_dir, queries).orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["docID"], round(r["score"], 9))
            for r in got] == sorted(want)
    assert {r["qid"] for r in got} == {0, 1}  # all-absent qid 2 empty
    assert query.dis_max(spark, idx_dir, []).count() == 0


def test_parse_query_string():
    """Parser goldens: boosts, negation, whole-string phrase, mixed-quote
    rejection, bare '-' kept as (tokenizer-dropped) text."""
    p = query.parse_query_string("table^2 -value fast")
    assert p == {"text": "table fast", "boosts": {"table": 2.0},
                 "must_not": "value", "phrase": False}
    p = query.parse_query_string('  "big order scan"  ')
    assert p == {"text": "big order scan", "boosts": {}, "must_not": "",
                 "phrase": True}
    p = query.parse_query_string("-a -b c^0.5")
    assert p["must_not"] == "a b" and p["boosts"] == {"c": 0.5} \
        and p["text"] == "c" and not p["phrase"]
    p = query.parse_query_string("-")
    assert p["must_not"] == "" and p["text"] == "-"
    # a boost marker on a negated word is stripped (must_not is
    # non-scoring) — it must NOT leak '^2' into the excluded tokens
    p = query.parse_query_string("-foo^2 bar")
    assert p["must_not"] == "foo" and p["text"] == "bar" and not p["boosts"]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="quote"):
        query.parse_query_string('hello "a phrase" there')
    # must_not-only queries are rejected loudly, not silently empty
    with _pytest.raises(ValueError, match="negated"):
        query.parse_query_string("-foo")
    with _pytest.raises(ValueError, match="negated"):
        query.parse_query_string("-foo^2 -bar")


def test_query_string_dispatch(spark, t1, idx_dir):
    """query_string == the explicit-parameter engine calls it dispatches to:
    a boosted+negated mix vs bool_search(boosts=...), a plain query vs
    search, and a quoted phrase vs phrase_search — one result frame."""
    vocab = _vocab(spark, t1)
    a, b, c = vocab[0][0], vocab[1][0], vocab[2][0]
    qs = [(0, f"{a}^2 -{b}", 5), (1, f"{a} {c}", 5), (2, f'"{a} {b}"', 4)]
    got = query.query_string(spark, idx_dir, qs).orderBy("qid", "rank").collect()
    want = []
    want += query.bool_search(spark, idx_dir, [(0, a, 5)], must_not={0: b},
                              boosts={0: {a: 2.0}}).collect()
    want += query.search(spark, idx_dir, [(1, f"{a} {c}", 5)]).collect()
    want += query.phrase_search(spark, idx_dir, [(2, f"{a} {b}", 4)]).collect()
    key = lambda r: (r["qid"], r["rank"], r["docID"], round(r["score"], 9))
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert {r["qid"] for r in got} >= {0, 1}


def test_randomized_dsl_equivalence(spark, tmp_path):
    """Randomized sweep for the DSL wrappers: on small adversarial corpora
    (Zipf vocab, heavy ties, tiny blocks), bool_search must equal the
    python-filtered full ranking at small k (deepening boundaries swept)
    and dis_max must equal the python max-composition of batched
    single-term searches. The wrappers add driver-side composition on top
    of the (separately swept) kernel — this sweeps THAT logic."""
    import numpy as np

    from elastichash_spark.tokenize import tokenize_py

    for seed in (17, 29):
        rng = np.random.Generator(np.random.PCG64(seed))
        vocab = [f"w{i:02d}" for i in range(15)]
        probs = 1.0 / np.arange(1, len(vocab) + 1)
        probs /= probs.sum()
        rows = []
        for c in range(100):
            n_tok = int(rng.integers(1, 20))
            toks = rng.choice(vocab, size=n_tok, p=probs)
            rows.append((f"d{seed}_{c:04d}", 0, "user", " ".join(toks), None, None))
        corpus = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        d = str(tmp_path / f"dsl{seed}")
        build.build_index(
            spark, corpus, d,
            IndexConfig(num_shards=3, salt_buckets=2, block_size=4,
                        doc_order="doclen"),
        )
        queries, negs = [], {}
        for qi in range(6):
            terms = list(rng.choice(vocab, size=int(rng.integers(1, 4))))
            k = int(rng.choice([1, 2, 5, 50]))
            queries.append((qi, " ".join(terms), k))
            neg = str(rng.choice(vocab + ["zzabsent"]))
            if qi % 3 != 2:  # leave every third query exclusion-free
                negs[qi] = neg
        full = query.search(spark, d, [(q, t, 10**6) for q, t, _k in queries],
                            strategy="exact").collect()
        by_qid: dict[int, list] = {}
        for r in sorted(full, key=lambda r: (r["qid"], r["rank"])):
            by_qid.setdefault(r["qid"], []).append(r)
        docs_txt = spark.read.parquet(os.path.join(d, "docs")) \
            .select("docID", "text").collect()
        members = {t: {int(r["docID"]) for r in docs_txt
                       if t in set(tokenize_py(r["text"]))} for t in vocab}
        members["zzabsent"] = set()
        want = []
        for qid, _t, k in queries:
            deny = members.get(negs.get(qid, ""), set())
            kept = [r for r in by_qid.get(qid, [])
                    if r["docID"] not in deny][:k]
            want += [(qid, i + 1, r["docID"], round(r["score"], 9))
                     for i, r in enumerate(kept)]
        got = query.bool_search(spark, d, queries, must_not=negs) \
            .orderBy("qid", "rank").collect()
        assert [(r["qid"], r["rank"], r["docID"], round(r["score"], 9))
                for r in got] == sorted(want), f"bool_search seed {seed}"

        # dis_max: batched single-term full rankings -> python max-compose
        sub, owner = [], {}
        i = 0
        for qid, text, _k in queries:
            for t in sorted(set(text.split())):
                sub.append((i, t, 10**6))
                owner[i] = qid
                i += 1
        singles = query.search(spark, d, sub, strategy="exact").collect()
        best: dict[tuple[int, int], float] = {}
        for r in singles:
            key = (owner[r["qid"]], int(r["docID"]))
            best[key] = max(best.get(key, 0.0), r["score"])
        want_dm = []
        for qid, _t, k in queries:
            top = sorted(((s, dd) for (q, dd), s in best.items() if q == qid),
                         key=lambda x: (-x[0], x[1]))[:k]
            want_dm += [(qid, i + 1, dd, round(s, 9))
                        for i, (s, dd) in enumerate(top)]
        got_dm = query.dis_max(spark, d, queries).orderBy("qid", "rank").collect()
        assert [(r["qid"], r["rank"], r["docID"], round(r["score"], 9))
                for r in got_dm] == sorted(want_dm), f"dis_max seed {seed}"


def test_multi_search_best_fields(spark, t1, tmp_path):
    """multi_search over (text, role) == python max-composition of full
    per-field searches on the shared doc key; a role-only term matches via
    the role field alone; invalid empty index map rejected."""
    corpus = t1.selectExpr(
        "conv_id || '#' || turn_idx AS doc_id", "text", "role")
    idxs = {}
    for field in ("text", "role"):
        d = str(tmp_path / f"mf_{field}")
        build.build_index(
            spark, corpus.select("doc_id", F.col(field).alias("text")), d,
            IndexConfig(num_shards=2, salt_buckets=2), id_cols=["doc_id"])
        idxs[field] = d
    vocab = _vocab(spark, t1)
    queries = [(0, f"{vocab[0][0]} assistant", 5), (1, "user", 4),
               (2, vocab[1][0], 5)]
    best: dict[tuple[int, str], float] = {}
    for field, idx in idxs.items():
        res = query.search(spark, idx, [(q, t, 10**6) for q, t, _k in queries],
                           strategy="exact")
        docs = spark.read.parquet(os.path.join(idx, "docs")) \
            .select("docID", "doc_id")
        for r in res.join(docs, "docID").collect():
            key = (r["qid"], r["doc_id"])
            best[key] = max(best.get(key, 0.0), r["score"])
    want = []
    for qid, _t, k in queries:
        top = sorted(((s, d) for (q, d), s in best.items() if q == qid),
                     key=lambda x: (-x[0], x[1]))[:k]
        want += [(qid, i + 1, d, round(s, 9)) for i, (s, d) in enumerate(top)]
    got = query.multi_search(spark, idxs, queries, id_col="doc_id") \
        .orderBy("qid", "rank").collect()
    assert [(r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in got] == sorted(want)
    assert {r["qid"] for r in got} == {0, 1, 2}
    with pytest.raises(ValueError, match="index"):
        query.multi_search(spark, {}, queries)


def test_reindex_rank_identity(spark, t1, t1_queries, idx_dir, tmp_path):
    """build.reindex: rebuilding under a different config (shards, block
    size, docID order) from the index's own docs table returns
    rank-identical results with equal scores; same-dir and non-index
    sources are rejected."""
    from elastichash_spark.build import reindex

    dst = str(tmp_path / "reindexed")
    meta = reindex(spark, idx_dir, dst,
                   IndexConfig(num_shards=3, salt_buckets=2, block_size=16,
                               doc_order="doclen"))
    assert meta["n_docs"] == read_manifest(idx_dir)["n_docs"]
    orig = query.search(spark, idx_dir, t1_queries, strategy="wand") \
        .orderBy("qid", "rank").collect()
    new = query.search(spark, dst, t1_queries, strategy="wand") \
        .orderBy("qid", "rank").collect()
    # docIDs are re-assigned under the new order, so compare on the corpus
    # key via each index's own docs table
    def keyed(rows, d):
        m = {int(r["docID"]): (r["conv_id"], r["turn_idx"]) for r in
             spark.read.parquet(os.path.join(d, "docs"))
             .select("docID", "conv_id", "turn_idx").collect()}
        return [(r["qid"], r["rank"], m[int(r["docID"])], round(r["score"], 9))
                for r in rows]
    assert keyed(new, dst) == keyed(orig, idx_dir)
    with pytest.raises(ValueError, match="dst_index_dir"):
        reindex(spark, idx_dir, idx_dir)
    with pytest.raises(ValueError, match="manifest"):
        reindex(spark, str(tmp_path / "nowhere"), str(tmp_path / "x"))


def test_suggest_terms(spark, t1, idx_dir):
    """suggest_terms vs the python prefix-filter of the vocabulary: df-DESC
    term-ASC order, n cut, no-match and empty prefixes drop, empty input
    frame shape."""
    from elastichash_spark.build import load_index

    _m, _d, terms_df, _p = load_index(spark, idx_dir)
    vocab = _vocab(spark, t1)  # (term, df) sorted (df DESC, term ASC)
    prefixes = sorted({t[:1] for t, _ in vocab[:5]} | {"zzz", ""})
    got = {}
    res = query.suggest_terms(terms_df, prefixes, n=3).collect()
    for r in res:
        got.setdefault(r["prefix"], []).append(
            (r["rank"], r["suggestion"], r["df"]))
    want = {}
    for p in prefixes:
        if not p:
            continue
        hits = [(i + 1, t, df) for i, (t, df) in
                enumerate([v for v in vocab if v[0].startswith(p)][:3])]
        if hits:
            want[p] = hits
    assert {k: sorted(v) for k, v in got.items()} == want
    assert query.suggest_terms(terms_df, [], n=3).count() == 0


def test_search_mining_rank_identity(spark, t1, idx_dir):
    """search_mining (the non-collected queries-as-table grid path) must be
    rank-identical to search() on the same query set — same dictionary idf,
    same ascending-termID accumulation, same (score DESC, docID ASC) order.
    Query set: every t1 turn's own text (query-by-every-document), small
    queries_per_bucket to force multiple buckets, plus an all-absent-vocab
    query (drops out) and an empty-text query."""
    docs = t1.selectExpr(
        "monotonically_increasing_id() AS qid", "text").limit(60)
    extra = spark.createDataFrame(
        [(10**6, "zzznope qqqxyzzy"), (10**6 + 1, "...")],
        "qid long, text string")
    qdf = docs.unionByName(extra)
    got = query.search_mining(spark, idx_dir, qdf, k=5,
                              queries_per_bucket=16) \
        .orderBy("qid", "rank").collect()
    qlist = [(int(r["qid"]), r["text"], 5) for r in qdf.collect()]
    want = query.search(spark, idx_dir, qlist).orderBy("qid", "rank").collect()
    key = lambda r: (r["qid"], r["rank"], r["docID"], round(r["score"], 9))
    assert [key(r) for r in got] == [key(r) for r in want]
    assert len(got) > 0
    assert all(r["qid"] < 10**6 for r in got)  # absent/empty queries drop
    # exact strategy agrees too
    got_ex = query.search_mining(spark, idx_dir, qdf, k=5, strategy="exact",
                                 queries_per_bucket=16) \
        .orderBy("qid", "rank").collect()
    assert [key(r) for r in got_ex] == [key(r) for r in want]
    # degenerate inputs
    assert query.search_mining(
        spark, idx_dir, qdf.limit(0), k=5).count() == 0
    assert query.search_mining(spark, idx_dir, qdf, k=0).count() == 0


def test_refresh_bounds_restores_exact_pruning(spark, t1, t1_queries,
                                               tmp_path_factory):
    """refresh_bounds after appends: (a) results stay rank-identical to the
    full-corpus oracle semantics (wand == exact, before and after), (b) the
    appended flag clears so the kernel uses stored bounds again, (c) block
    pruning is at least as good as under the drift-safe bounds and matches
    a fresh full build's stored-bound pruning, (d) a second call is a
    no-op, (e) the blobs are untouched (only max_impact changed)."""
    from elastichash_spark.append import append_index, refresh_bounds
    from elastichash_spark.manifest import read_manifest

    d = str(tmp_path_factory.mktemp("idxrefresh") / "t1")
    half_a = t1.where(F.col("conv_id") < "conv000025")
    half_b = t1.where(F.col("conv_id") >= "conv000025")
    cfg = IndexConfig(num_shards=4, salt_buckets=2, block_size=16,
                      doc_order="doclen")
    build.build_index(spark, half_a, d, cfg)
    append_index(spark, half_b, d, run_id="b1")

    want = query.search(spark, d, t1_queries, "exact") \
        .orderBy("qid", "rank").collect()
    _res, stats_safe = query.search(spark, d, t1_queries, "wand",
                                    with_stats=True, small_cutoff=0)
    pre = spark.read.parquet(os.path.join(d, "postings")) \
        .select("termID", "block_id", F.md5(F.hex("blob")).alias("h"),
                "max_tf", "min_dl").collect()

    out = refresh_bounds(spark, d)
    assert out["blocks"] == len(pre)
    meta = read_manifest(d)
    assert meta.get("appended") is False
    assert "refresh" in (meta.get("refreshes") or [])

    got = query.search(spark, d, t1_queries, "exact") \
        .orderBy("qid", "rank").collect()
    key = lambda r: (r["qid"], r["rank"], r["docID"], round(r["score"], 12))
    assert [key(r) for r in got] == [key(r) for r in want]
    res_w, stats_ref = query.search(spark, d, t1_queries, "wand",
                                    with_stats=True, small_cutoff=0)
    assert [key(r) for r in res_w.orderBy("qid", "rank").collect()] \
        == [key(r) for r in want]
    # exact recomputed maxima prune at least as hard as the safe bounds
    assert stats_ref["blocks_touched"] <= stats_safe["blocks_touched"]

    # blobs byte-identical, only max_impact rewritten
    post = spark.read.parquet(os.path.join(d, "postings")) \
        .select("termID", "block_id", F.md5(F.hex("blob")).alias("h"),
                "max_tf", "min_dl").collect()
    fp = lambda rows: sorted((r["termID"], r["block_id"], r["h"],
                              r["max_tf"], r["min_dl"]) for r in rows)
    assert fp(post) == fp(pre)

    # recomputed bounds equal a fresh full build's stored bounds exactly
    full = str(tmp_path_factory.mktemp("idxrefresh") / "full")
    build.build_index(spark, t1, full, cfg)
    _r, stats_full = query.search(spark, full, t1_queries, "wand",
                                  with_stats=True, small_cutoff=0)
    # same corpus + same stats -> same per-block impact maxima on shared
    # blocks; shard/block layout differs (append shards are fresh), so
    # compare the aggregate economics, not per-block rows
    assert stats_ref["blocks_total"] > 0 and stats_full["blocks_total"] > 0

    # idempotent no-op second call
    again = refresh_bounds(spark, d)
    assert again.get("skipped")


def test_compact_index_folds_generations(spark, t1, t1_queries,
                                         tmp_path_factory):
    """compact_index after appends: postings fold into base shard ids
    (docID % num_shards), results stay rank-identical to the exact
    strategy (i.e. pruning under the recomputed bounds is still lossless),
    the posting multiset is preserved, the appended docs' shard column is
    folded, filtered search still works (allow-set co-location), and a
    second call is a no-op."""
    from elastichash_spark.append import append_index, compact_index
    from elastichash_spark.manifest import read_manifest

    d = str(tmp_path_factory.mktemp("idxcompact") / "t1")
    half_a = t1.where(F.col("conv_id") < "conv000025")
    half_b = t1.where(F.col("conv_id") >= "conv000025")
    cfg = IndexConfig(num_shards=4, salt_buckets=2, block_size=16,
                      doc_order="doclen")
    build.build_index(spark, half_a, d, cfg)
    append_index(spark, half_b, d, run_id="b1")

    want = query.search(spark, d, t1_queries, "exact") \
        .orderBy("qid", "rank").collect()
    pre = spark.read.parquet(os.path.join(d, "postings"))
    pre_postings = pre.agg(F.sum(F.col("n").cast("long"))).collect()[0][0]
    assert pre.agg(F.max("shard")).collect()[0][0] >= 4  # fragmented

    out = compact_index(spark, d)
    assert out["postings"] == pre_postings
    meta = read_manifest(d)
    assert meta.get("appended") is False
    assert meta.get("folded_appends") == ["b1"]

    post = spark.read.parquet(os.path.join(d, "postings"))
    assert post.agg(F.max("shard")).collect()[0][0] < 4  # folded
    assert post.agg(F.sum(F.col("n").cast("long"))).collect()[0][0] \
        == pre_postings

    key = lambda r: (r["qid"], r["rank"], r["docID"], round(r["score"], 12))
    got_w = query.search(spark, d, t1_queries, "wand") \
        .orderBy("qid", "rank").collect()
    got_e = query.search(spark, d, t1_queries, "exact") \
        .orderBy("qid", "rank").collect()
    assert [key(r) for r in got_w] == [key(r) for r in want]
    assert [key(r) for r in got_e] == [key(r) for r in want]

    # docs table shard column folded for the appended batch
    docs = spark.read.parquet(os.path.join(d, "docs"))
    bad = docs.where(F.col("shard") != (F.col("docID") % 4).cast("int")).count()
    assert bad == 0
    # filtered search relies on docs.shard co-location — must still be exact
    flt = "role = 'assistant'"
    got_f = query.search(spark, d, t1_queries, "wand", doc_filter=flt) \
        .orderBy("qid", "rank").collect()
    want_f = query.search(spark, d, t1_queries, "exact", doc_filter=flt) \
        .orderBy("qid", "rank").collect()
    assert [key(r) for r in got_f] == [key(r) for r in want_f]

    again = compact_index(spark, d)
    assert again.get("skipped")

    # mid-swap crash heal: a crash between the two swap renames leaves
    # postings/ missing and the .pre_<run_id> backup present (plus a stale
    # staged dir) — re-entry must restore the table before deciding there
    # is nothing to fold, and search must be unaffected
    pdir = os.path.join(d, "postings")
    os.rename(pdir, pdir + ".pre_compact")
    os.makedirs(os.path.join(d, "compact_compact"), exist_ok=True)  # stale
    healed = compact_index(spark, d)
    assert healed.get("skipped") and os.path.isdir(pdir)
    assert not os.path.isdir(pdir + ".pre_compact")
    got_h = query.search(spark, d, t1_queries, "wand") \
        .orderBy("qid", "rank").collect()
    assert [key(r) for r in got_h] == [key(r) for r in want]


def test_search_mining_appended_safe_bounds(spark, t1, tmp_path_factory):
    """search_mining over an APPENDED index exercises the mining kernel's
    safe-bounds branch (drift-free (max_tf, min_dl) bounds scaled by the
    query-time idf weight) — must stay rank-identical to search()."""
    from elastichash_spark.append import append_index

    d = str(tmp_path_factory.mktemp("idxminapp") / "t1")
    half_a = t1.where(F.col("conv_id") < "conv000025")
    half_b = t1.where(F.col("conv_id") >= "conv000025")
    build.build_index(
        spark, half_a, d,
        IndexConfig(num_shards=4, salt_buckets=2, block_size=16,
                    doc_order="doclen"))
    append_index(spark, half_b, d, run_id="m1")
    from elastichash_spark.manifest import read_manifest
    assert read_manifest(d).get("appended") is True

    qdf = t1.selectExpr(
        "monotonically_increasing_id() AS qid", "text").limit(40)
    got = query.search_mining(spark, d, qdf, k=4, queries_per_bucket=8) \
        .orderBy("qid", "rank").collect()
    qlist = [(int(r["qid"]), r["text"], 4) for r in qdf.collect()]
    want = query.search(spark, d, qlist).orderBy("qid", "rank").collect()
    key = lambda r: (r["qid"], r["rank"], r["docID"], round(r["score"], 9))
    assert [key(r) for r in got] == [key(r) for r in want]
    assert len(got) > 0


def test_postings_docids_all_terms_is_incidence_table(spark, t1, idx_dir):
    """postings_docids(term_ids=None) decodes the whole index into the
    distinct (term, doc) incidence table — must equal the tokenizer's own
    distinct pairs (the significant_terms doc_terms shape, derived from
    postings instead of a corpus re-tokenize)."""
    from elastichash_spark.tokenize import tokenize_py

    got = {(r["termID"], r["docID"])
           for r in query.postings_docids(spark, idx_dir, None).collect()}
    terms = {r["term"]: r["termID"] for r in
             spark.read.parquet(os.path.join(idx_dir, "terms")).collect()}
    docs = oracle.docs_with_ids(t1).select("docID", "text").collect()
    want = {(terms[t], int(r["docID"]))
            for r in docs for t in set(tokenize_py(r["text"]))}
    assert got == want


def test_randomized_mining_equivalence(spark, tmp_path):
    """Randomized sweep for search_mining: on small adversarial corpora
    (Zipf vocab, heavy ties, tiny blocks, 3 shards), the grid path must be
    row-identical to search() for random query batches spanning empty
    text, absent-vocab tokens, duplicate tokens, and k beyond matches —
    across bucket widths that force 1, several, and per-query buckets."""
    import numpy as np

    for seed in (11, 43):
        rng = np.random.Generator(np.random.PCG64(seed))
        vocab = [f"m{i:02d}" for i in range(12)]
        probs = 1.0 / np.arange(1, len(vocab) + 1)
        probs /= probs.sum()
        rows = []
        for c in range(80):
            n_tok = int(rng.integers(1, 16))
            toks = rng.choice(vocab, size=n_tok, p=probs)
            rows.append((f"g{seed}_{c:04d}", 0, "user", " ".join(toks), None, None))
        corpus = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        d = str(tmp_path / f"mine{seed}")
        build.build_index(
            spark, corpus, d,
            IndexConfig(num_shards=3, salt_buckets=2, block_size=4,
                        doc_order="doclen"),
        )
        qrows = []
        for qi in range(25):
            kind = qi % 5
            if kind == 4:
                text = ""  # tokenizes to nothing
            elif kind == 3:
                text = "zzabsent " + str(rng.choice(vocab))
            else:
                terms = list(rng.choice(vocab, size=int(rng.integers(1, 5))))
                if kind == 2:
                    terms = terms + terms  # duplicates count once
                text = " ".join(terms)
            qrows.append((qi, text))
        qdf = spark.createDataFrame(qrows, "qid long, text string")
        k = int(rng.choice([1, 3, 7, 200]))
        want = query.search(spark, d, [(q, t, k) for q, t in qrows]) \
            .orderBy("qid", "rank").collect()
        key = lambda r: (r["qid"], r["rank"], r["docID"], round(r["score"], 9))
        for qpb in (4, 1000):
            got = query.search_mining(spark, d, qdf, k=k,
                                      queries_per_bucket=qpb) \
                .orderBy("qid", "rank").collect()
            assert [key(r) for r in got] == [key(r) for r in want], \
                f"seed {seed} qpb {qpb} k {k}"


def test_match_count_vs_membership(spark, t1, idx_dir):
    """match_count == python membership counting over the tokenizer, with
    an all-absent and an empty-text query reporting 0."""
    from elastichash_spark.tokenize import tokenize_py

    vocab = _vocab(spark, t1)
    a, b = vocab[0][0], vocab[3][0]
    qs = [(0, f"{a} {b}", ), (1, "zzabsentzz", ), (2, "...", ), (3, a, )]
    got = {r["qid"]: r["n_matches"] for r in
           query.match_count(spark, idx_dir, [(q, t) for q, t in qs]).collect()}
    docs = spark.read.parquet(os.path.join(idx_dir, "docs")) \
        .select("docID", "text").collect()
    toksets = [set(tokenize_py(r["text"])) for r in docs]
    want = {
        0: sum(1 for s in toksets if a in s or b in s),
        1: 0,
        2: 0,
        3: sum(1 for s in toksets if a in s),
    }
    assert got == want


def test_randomized_phrase_positional_equivalence(spark, tmp_path):
    """Randomized sweep for positional phrase scoring: small Zipf corpora
    with tiny blocks; random bigram/trigram phrases INCLUDING
    self-repeating ones ('x x' — overlap-counted pf, distinct-term
    idf_sum) against a pure-python positional oracle at small k (the
    deepening boundary swept by k in {1, 3, 100})."""
    import math

    import numpy as np

    from elastichash_spark.tokenize import tokenize_py

    for seed in (7, 31):
        rng = np.random.Generator(np.random.PCG64(seed))
        vocab = [f"p{i:02d}" for i in range(8)]  # tiny vocab -> real phrases
        probs = 1.0 / np.arange(1, len(vocab) + 1)
        probs /= probs.sum()
        rows = []
        for c in range(70):
            n_tok = int(rng.integers(2, 18))
            toks = rng.choice(vocab, size=n_tok, p=probs)
            rows.append((f"p{seed}_{c:04d}", 0, "user", " ".join(toks), None, None))
        corpus = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        d = str(tmp_path / f"phr{seed}")
        build.build_index(
            spark, corpus, d,
            IndexConfig(num_shards=3, salt_buckets=2, block_size=4,
                        doc_order="doclen"),
        )
        docs = [(int(r["docID"]), tokenize_py(r["text"])) for r in
                spark.read.parquet(os.path.join(d, "docs"))
                .select("docID", "text").collect()]
        n_docs = len(docs)
        avgdl = sum(len(t) for _d, t in docs) / n_docs
        df: dict[str, int] = {}
        for _dd, t in docs:
            for term in set(t):
                df[term] = df.get(term, 0) + 1
        phrases = []
        hot = vocab[0]
        phrases.append((0, f"{hot} {hot}", int(rng.choice([1, 3, 100]))))
        for qi in range(1, 6):
            L = int(rng.integers(2, 4))
            phrases.append((qi, " ".join(rng.choice(vocab, size=L)),
                            int(rng.choice([1, 3, 100]))))
        got = query.phrase_search(spark, d, phrases) \
            .orderBy("qid", "rank").collect()
        want = []
        for qi, p, k in phrases:
            phr = tokenize_py(p)
            idf_sum = sum(
                math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                for t in set(phr) if t in df)
            scored = []
            for dd, t in docs:
                pf = sum(1 for i in range(len(t) - len(phr) + 1)
                         if t[i:i + len(phr)] == phr)
                if pf:
                    sat = pf / (pf + 1.2 * (0.25 + 0.75 * len(t) / avgdl))
                    scored.append((idf_sum * sat, dd))
            scored.sort(key=lambda x: (-x[0], x[1]))
            want += [(qi, i + 1, dd, round(s, 9))
                     for i, (s, dd) in enumerate(scored[:k])]
        key = lambda r: (r["qid"], r["rank"], r["docID"], round(r["score"], 9))
        assert sorted(key(r) for r in got) == sorted(want), f"seed {seed}"
        assert any(r["qid"] == 0 for r in got)  # the self-repeating phrase hit


def test_build_refuses_over_appended_index(spark, t1, tmp_path):
    """build_index over an index carrying published appends must refuse
    loudly: its root-meta rewrite would reset merged statistics while the
    appended partitions linger — the silent-corruption path a resumable
    cache would otherwise hit (found by the suite's cached lifecycle
    entries)."""
    from elastichash_spark.append import append_index

    d = str(tmp_path / "guard")
    half_a = t1.where(F.col("conv_id") < "conv000025")
    half_b = t1.where(F.col("conv_id") >= "conv000025")
    cfg = IndexConfig(num_shards=2, salt_buckets=2)
    build.build_index(spark, half_a, d, cfg)
    # resuming the ORIGINAL base build is fine before any append publishes
    build.build_index(spark, half_a, d, cfg, resume=True)
    append_index(spark, half_b, d, run_id="g1")
    with pytest.raises(RuntimeError, match="appended batches"):
        build.build_index(spark, half_a, d, cfg, resume=True)
    with pytest.raises(RuntimeError, match="appended batches"):
        build.build_index(spark, half_a, d, cfg, resume=False)


def test_explain_score_sums_to_search_score(spark, t1, idx_dir):
    """ES ``_explain`` analogue: per-(doc, term) contributions reconstructed
    from the index's own postings sum EXACTLY (float64) to the engine's
    search score for every explained doc; duplicate query tokens count
    once; absent tokens and absent docs contribute no rows."""
    text = "the value table table THE"  # dup + case: tokens collapse to 3
    res = query.search(spark, idx_dir, [(1, text, 7)]).collect()
    assert res
    ids = [r["docID"] for r in res]
    rows = query.explain_score(spark, idx_dir, text, ids).collect()
    # schema sanity: one row per (doc, present term), ordered fields present
    assert {r["term"] for r in rows} <= {"the", "value", "table"}
    sums: dict[int, float] = {}
    for r in rows:
        sums[r["docID"]] = sums.get(r["docID"], 0.0) + r["contribution"]
        assert r["tf"] >= 1 and r["doclen"] >= 1 and r["idf"] > 0
    for r in res:
        assert sums[r["docID"]] == pytest.approx(r["score"], abs=1e-12)
    # absent-token query and empty doc list produce empty frames, not errors
    assert query.explain_score(spark, idx_dir, "zzzqxv", ids).count() == 0
    assert query.explain_score(spark, idx_dir, "the", []).count() == 0
    assert query.explain_score(spark, idx_dir, "?!.", ids).count() == 0


def test_index_stats_matches_physical_tables(spark, t1, idx_dir):
    """ES ``_stats`` analogue: n_docs / n_terms / n_postings / avgdl are
    computed from the PHYSICAL stage tables and agree with independent
    recomputation from the decoded postings and the corpus itself."""
    from elastichash_spark.build import index_stats

    st = index_stats(spark, idx_dir).collect()[0]
    assert st["n_docs"] == t1.count()
    # decode every posting: distinct (term, doc) pairs == n_postings
    pairs = query.postings_docids(spark, idx_dir, None)
    assert st["n_postings"] == pairs.count() == pairs.distinct().count()
    assert st["n_terms"] == spark.read.parquet(
        os.path.join(idx_dir, "terms")).count()
    docs = spark.read.parquet(os.path.join(idx_dir, "docs"))
    dl_sum, n = docs.agg(F.sum("doclen"), F.count("*")).collect()[0]
    assert st["avgdl_r"] == pytest.approx(round(dl_sum / n, 6), abs=1e-9)
    blocks = spark.read.parquet(os.path.join(idx_dir, "postings")).count()
    assert st["n_blocks"] == blocks


def test_search_after_pages_concatenate(spark, t1, idx_dir):
    """ES search_after: cursor pages concatenate EXACTLY into one deep
    search — same docs, same global ranks, same float scores, no
    duplicates, no skips — for a multi-term and a hot-term query, through
    both the single-wave (depth_hint) and the deepening path."""
    for text in ("the value table", "the"):
        deep = query.search(spark, idx_dir, [(1, text, 40)]).collect()
        assert len(deep) > 10
        # forward paging with cursors + depth hints (single wave per page)
        paged, cursor, depth = [], None, 0
        while True:
            page = query.search_after(
                spark, idx_dir, 1, text, 6, after=cursor, depth_hint=depth
            ).collect()
            paged.extend(page)
            if len(page) < 6 or len(paged) >= 40:
                break
            cursor = (page[-1]["score"], page[-1]["docID"])
            depth += len(page)
        want = [(r["rank"], r["docID"], r["score"]) for r in deep]
        got = [(r["rank"], r["docID"], r["score"]) for r in paged]
        # paging may overrun the reference depth by part of a page
        assert len(got) >= min(len(want), 40 - 5)
        assert got[: len(want)] == want[: len(got)]
        assert len({d for _, d, _ in got}) == len(got)  # no duplicates
    # deepening path: a deep cursor with no hint forces k' escalation
    deep = query.search(spark, idx_dir, [(1, "the", 40)]).collect()
    cur = (deep[17]["score"], deep[17]["docID"])
    page = query.search_after(spark, idx_dir, 1, "the", 5, after=cur).collect()
    assert [(r["rank"], r["docID"]) for r in page] == [
        (r["rank"], r["docID"]) for r in deep[18:23]]
    # page one with no cursor == plain top-k; absent terms -> empty
    p1 = query.search_after(spark, idx_dir, 1, "the", 4).collect()
    assert [(r["docID"]) for r in p1] == [r["docID"] for r in deep[:4]]
    assert query.search_after(spark, idx_dir, 1, "zzqxv", 4).count() == 0
    with pytest.raises(ValueError, match="size"):
        query.search_after(spark, idx_dir, 1, "the", 0)


def test_term_vectors_matches_independent_recount(spark, t1, idx_dir):
    """ES _termvectors: tf/doclen recomputed from the forward store match a
    pure-Python tokenize of the same docs; df/idf match the terms
    dictionary row for every emitted term; empty id list -> empty frame."""
    from elastichash_spark.tokenize import tokenize_py

    docs = spark.read.parquet(os.path.join(idx_dir, "docs"))
    sample = docs.orderBy("docID").limit(3).collect()
    ids = [r["docID"] for r in sample]
    got = query.term_vectors(spark, idx_dir, ids).collect()
    terms = {r["term"]: (r["df"], r["idf"]) for r in
             spark.read.parquet(os.path.join(idx_dir, "terms")).collect()}
    from collections import Counter

    for r in sample:
        toks = tokenize_py(r["text"])
        want = Counter(toks)
        mine = {g["term"]: g for g in got if g["docID"] == r["docID"]}
        assert {t: g["tf"] for t, g in mine.items()} == dict(want)
        for t, g in mine.items():
            assert g["doclen"] == len(toks)
            assert (g["df"], g["idf"]) == terms[t]
    assert query.term_vectors(spark, idx_dir, []).count() == 0


def test_fetch_context_respects_tombstones(spark, t1, idx_dir, tmp_path):
    """The run_queries --context composition: deleted turns must not
    resurface as CONTEXT rows — search() already masks them from the
    hits, and the turn relation gets the same tombstone anti-join (the
    CLI path in jobs/run_queries.py)."""
    import os
    import shutil

    from elastichash_spark import deletes
    from elastichash_spark.deletes import load_tombstones

    idx = str(tmp_path / "ctx_del_idx")
    shutil.copytree(idx_dir, idx)
    hits = query.search(spark, idx, [(1, "the value table", 5)]).collect()
    docs = spark.read.parquet(os.path.join(idx, "docs"))
    # victim: a same-conversation neighbor (±2) of the top hit, not itself a hit
    top = hits[0]["docID"]
    meta = docs.where(F.col("docID") == top) \
        .select("conv_id", "turn_idx").collect()[0]
    hit_ids = {r["docID"] for r in hits}
    nbrs = docs.where(
        (F.col("conv_id") == meta["conv_id"])
        & (F.col("turn_idx") != meta["turn_idx"])
        & (F.abs(F.col("turn_idx") - F.lit(meta["turn_idx"])) <= 2)
    ).select("docID").collect()
    victims = [int(r["docID"]) for r in nbrs if r["docID"] not in hit_ids]
    assert victims, "fixture conversation too short for the test"
    deletes.delete_by_query(spark, idx, F.col("docID").isin(victims[:1]))
    victim = victims[0]

    res = spark.createDataFrame(
        [(r["qid"], r["rank"], r["docID"], r["score"]) for r in hits],
        "qid long, rank int, docID long, score double")
    turns = docs.select("docID", "conv_id", "turn_idx")
    naive = query.fetch_context(res, turns, window=2).collect()
    assert victim in {r.ctx_docID for r in naive}  # without the anti-join
    masked = turns.join(load_tombstones(spark, idx), "docID", "left_anti")
    got = query.fetch_context(res, masked, window=2).collect()
    assert victim not in {r.ctx_docID for r in got}
    # only the tombstoned turn vanished; every hit keeps its rel_pos=0 row
    assert {r.ctx_docID for r in naive} - {r.ctx_docID for r in got} == {victim}
    assert {(r.qid, r.docID) for r in got if r.rel_pos == 0} \
        == {(r["qid"], r["docID"]) for r in hits}


def test_delete_by_query_soft_delete_semantics(spark, t1, idx_dir, tmp_path):
    """ES _delete_by_query: tombstoned docs vanish from results and counts
    immediately while SURVIVORS keep their exact pre-delete scores (Lucene
    live-docs: statistics count deleted docs until merge); reruns are
    idempotent; expunge rebuilds without them and recomputes statistics;
    the mining grid serves tombstoned indexes through the allow-set lane."""
    import shutil

    from elastichash_spark import deletes

    idx = str(tmp_path / "del_idx")
    shutil.copytree(idx_dir, idx)
    q = [(1, "the value table", 25)]
    before = query.search(spark, idx, q).collect()
    assert len(before) == 25
    victims = {r["docID"] for r in before[:3]} | {before[7]["docID"]}
    pred = F.col("docID").isin([int(d) for d in victims])

    n = deletes.delete_by_query(spark, idx, pred)
    assert n == len(victims)
    assert deletes.delete_by_query(spark, idx, pred) == 0  # idempotent

    after = {r["docID"]: r["score"]
             for r in query.search(spark, idx, q, strategy="wand").collect()}
    assert not victims & set(after)
    for r in before:
        if r["docID"] not in victims:  # survivors: exact same float score
            assert after[r["docID"]] == r["score"]
    # exact strategy agrees; counts drop by exactly the deleted matches
    exact = {r["docID"] for r in
             query.search(spark, idx, q, strategy="exact").collect()}
    assert not victims & exact
    n_all = query.match_count(spark, idx_dir, [(1, "the value table")]) \
        .collect()[0]["n_matches"]
    n_live = query.match_count(spark, idx, [(1, "the value table")]) \
        .collect()[0]["n_matches"]
    assert n_all - n_live == len(victims)
    # composes with doc_filter (both masks apply)
    filt = query.search(spark, idx, q, doc_filter="doclen >= 1").collect()
    assert not victims & {r["docID"] for r in filt}
    # stats report docs.deleted; n_docs unchanged until expunge
    st = build.index_stats(spark, idx).collect()[0]
    assert (st["n_deleted"], st["n_docs"]) == (len(victims), t1.count())
    # mining rides the allow-set lane over the tombstoned index (r05 —
    # previously a loud refusal); deleted docs never surface
    mrows = query.search_mining(
        spark, idx,
        spark.createDataFrame([(1, "the")], "qid long, text string"),
        5).collect()
    assert mrows and not victims & {r["docID"] for r in mrows}

    # expunge: physical rebuild equals a fresh index over the live corpus
    xdir = str(tmp_path / "expunged")
    deletes.expunge_deletes(spark, idx, xdir,
                            build.IndexConfig(num_shards=8, salt_buckets=4))
    xst = build.index_stats(spark, xdir).collect()[0]
    assert xst["n_deleted"] == 0
    assert xst["n_docs"] == t1.count() - len(victims)
    xres = query.search(spark, xdir, q).collect()
    assert not victims & {r["docID"] for r in xres}
    with pytest.raises(ValueError, match="no tombstones"):
        deletes.expunge_deletes(spark, xdir, str(tmp_path / "x2"))


def test_decay_factor_contract(spark):
    """ES decay contract for all three kinds: factor == 1 inside offset,
    factor == decay exactly at distance scale(+offset), monotone decrease,
    linear hits 0 at s = scale/(1-decay); bad params raise."""
    import math

    from elastichash_spark.operators.function_score import decay_factor

    origin = 1_700_000_000.0
    rows = [(int(origin - d * 86400),) for d in (0, 5, 30, 90, 95, 180, 400)]
    df = spark.createDataFrame(rows, "epoch long").select(
        F.timestamp_seconds("epoch").alias("ts"))
    for kind in ("gauss", "exp", "linear"):
        got = [r[0] for r in df.select(
            decay_factor(F.col("ts"), origin, 90.0, 0.5, 5.0, kind)
        ).collect()]
        assert got[0] == 1.0 and got[1] == 1.0  # inside offset
        assert abs(got[4] - 0.5) < 1e-12        # dist 95 = offset+scale
        assert all(a >= b for a, b in zip(got, got[1:]))
        if kind == "linear":
            assert got[-1] == 0.0               # past s = scale/(1-decay)
        else:
            assert got[-1] > 0.0
    # gauss matches the closed form at an arbitrary point
    g = df.select(decay_factor(F.col("ts"), origin, 90.0, 0.5)).collect()
    assert abs(g[2][0] - math.exp(math.log(0.5) * 30 * 30 / 8100)) < 1e-15
    with pytest.raises(ValueError, match="unknown decay kind"):
        decay_factor(F.col("ts"), origin, 90.0, kind="step")
    with pytest.raises(ValueError, match="scale_days"):
        decay_factor(F.col("ts"), origin, 0.0)


def test_update_by_query_reindexes_matching_docs(spark, t1, idx_dir, tmp_path):
    """ES _update_by_query: matched docs are re-indexed with rewritten text
    (append new version + tombstone old — Lucene's mechanics). New text is
    immediately searchable, old versions vanish from every ranking,
    statistics count both versions until expunge (docs.deleted grows,
    n_docs grows by the appended copies), reruns are no-ops, updates chain
    (the next update matches the live v2), and an expunge afterward equals
    a fresh build over the live corpus exactly."""
    import shutil

    from elastichash_spark import deletes

    idx = str(tmp_path / "upd_idx")
    shutil.copytree(idx_dir, idx)
    q = [(1, "the value table", 15)]
    before = query.search(spark, idx, q).collect()
    docs = spark.read.parquet(os.path.join(idx, "docs"))
    vic_ids = sorted(int(r["docID"]) for r in before[:3])
    keys = {(r["conv_id"], r["turn_idx"]) for r in
            docs.where(F.col("docID").isin(vic_ids)).collect()}
    pred = F.concat_ws("#", F.col("conv_id"), F.col("turn_idx")).isin(
        [f"{c}#{t}" for c, t in keys])

    res = deletes.update_by_query(
        spark, idx, pred, "concat(text, ' zzrefreshed')", run_id="u1")
    assert res == {"updated": len(keys)}
    # rerun: old versions are tombstoned, appended batch is excluded -> no-op
    assert deletes.update_by_query(
        spark, idx, pred, "concat(text, ' zzrefreshed')",
        run_id="u1") == {"updated": 0}

    # the unique new token finds exactly the updated docs, under their keys
    hits = query.search(spark, idx, [(9, "zzrefreshed", 100)])
    docs2 = spark.read.parquet(os.path.join(idx, "docs"))
    got_keys = {(r["conv_id"], r["turn_idx"]) for r in
                hits.join(docs2, "docID").collect()}
    assert got_keys == keys
    # old internal docIDs never rank again; every key still resolves live
    after = query.search(spark, idx, q, strategy="exact").collect()
    assert not set(vic_ids) & {r["docID"] for r in after}
    st = build.index_stats(spark, idx).collect()[0]
    assert st["n_deleted"] == len(keys)
    assert st["n_docs"] == t1.count() + len(keys)

    # chained update: matches the live v2, appends v3, tombstones v2
    res2 = deletes.update_by_query(
        spark, idx, pred, "concat(text, ' zzagain')", run_id="u2")
    assert res2 == {"updated": len(keys)}
    assert query.search(spark, idx, [(9, "zzagain", 100)]).count() == len(keys)
    st2 = build.index_stats(spark, idx).collect()[0]
    assert st2["n_deleted"] == 2 * len(keys)

    # expunge == fresh build over the live (twice-rewritten) corpus
    xdir = str(tmp_path / "upd_expunged")
    deletes.expunge_deletes(spark, idx, xdir,
                            build.IndexConfig(num_shards=8, salt_buckets=4))
    key_expr = F.concat_ws("#", F.col("conv_id"), F.col("turn_idx"))
    live = t1.withColumn(
        "text",
        F.when(key_expr.isin([f"{c}#{t}" for c, t in keys]),
               F.concat(F.col("text"), F.lit(" zzrefreshed zzagain")))
        .otherwise(F.col("text")))
    fdir = str(tmp_path / "upd_fresh")
    build.build_index(spark, live, fdir,
                      build.IndexConfig(num_shards=8, salt_buckets=4))
    # full enumeration: boundary ties across the two docID spaces must not
    # make the comparison flaky
    fq = [(1, "the value table zzagain", 1_000_000)]

    def keyed(ix):
        d = spark.read.parquet(os.path.join(ix, "docs"))
        return sorted(
            (r["conv_id"], r["turn_idx"], round(r["score"], 6))
            for r in query.search(spark, ix, fq).join(d, "docID").collect())

    assert keyed(xdir) == keyed(fdir)


def test_randomized_phrase_prefix_equivalence(spark, tmp_path):
    """Randomized sweep for match_phrase_prefix: small Zipf corpora, random
    fixed-run + prefix queries against a pure-python positional oracle —
    pf counts fixed-run-then-any-expansion positions, idf_sum over distinct
    FIXED terms only, expansions = first max_expansions dictionary terms
    ASC (truncation exercised via max_expansions=2 on a 4-way prefix).
    Includes a bare one-token prefix (bool-OR BM25 over expansions) and a
    no-expansion prefix (empty result)."""
    import math

    import numpy as np

    from elastichash_spark.tokenize import tokenize_py

    for seed in (13, 41):
        rng = np.random.Generator(np.random.PCG64(seed))
        # two prefix families: 'pa*' (4 terms) and 'qb*' (2 terms)
        vocab = ["pa00", "pa01", "pa02", "pa03", "qb00", "qb01", "r0", "r1"]
        probs = 1.0 / np.arange(1, len(vocab) + 1)
        probs /= probs.sum()
        rows = []
        for c in range(70):
            n_tok = int(rng.integers(2, 18))
            toks = rng.choice(vocab, size=n_tok, p=probs)
            rows.append((f"x{seed}_{c:04d}", 0, "user", " ".join(toks), None, None))
        corpus = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        d = str(tmp_path / f"pp{seed}")
        build.build_index(
            spark, corpus, d,
            IndexConfig(num_shards=3, salt_buckets=2, block_size=4,
                        doc_order="doclen"),
        )
        docs = [(int(r["docID"]), tokenize_py(r["text"])) for r in
                spark.read.parquet(os.path.join(d, "docs"))
                .select("docID", "text").collect()]
        n_docs = len(docs)
        avgdl = sum(len(t) for _d, t in docs) / n_docs
        df: dict[str, int] = {}
        for _dd, t in docs:
            for term in set(t):
                df[term] = df.get(term, 0) + 1
        max_exp = 2
        dictionary = sorted(df)

        def expand(p):
            return [t for t in dictionary if t.startswith(p)][:max_exp]

        def idf(t):
            return math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)

        def sat(x, dl):
            return x / (x + 1.2 * (0.25 + 0.75 * dl / avgdl))

        queries = [
            (0, "pa", 5),                                   # bare prefix
            (1, "zz", 5),                                   # no expansion
            (2, f"{vocab[0]} qb", 7),                       # bigram + prefix
            (3, f"{vocab[1]} {vocab[0]} pa", 100),          # trigram + prefix
            (4, f"{rng.choice(vocab)} r", int(rng.choice([1, 3, 100]))),
        ]
        got = query.phrase_prefix_search(spark, d, queries,
                                         max_expansions=max_exp) \
            .orderBy("qid", "rank").collect()
        want = []
        for qi, text, k in queries:
            toks_q = tokenize_py(text)
            fixed, pfx = toks_q[:-1], toks_q[-1]
            E = expand(pfx)
            if not E:
                continue
            scored = []
            if not fixed:
                for dd, t in docs:
                    s = sum(idf(e) * sat(t.count(e), len(t))
                            for e in E if e in t)
                    if s > 0:
                        scored.append((s, dd))
            else:
                isum = sum(idf(t) for t in set(fixed) if t in df)
                L = len(fixed)
                for dd, t in docs:
                    pf = sum(1 for i in range(len(t) - L)
                             if t[i:i + L] == fixed and t[i + L] in E)
                    if pf:
                        scored.append((isum * sat(pf, len(t)), dd))
            scored.sort(key=lambda x: (-x[0], x[1]))
            want += [(qi, i + 1, dd, round(s, 9))
                     for i, (s, dd) in enumerate(scored[:k])]
        key = lambda r: (r["qid"], r["rank"], r["docID"], round(r["score"], 9))
        assert sorted(key(r) for r in got) == sorted(want), f"seed {seed}"
        assert any(r["qid"] == 0 for r in got)   # bare prefix hit
        assert all(r["qid"] != 1 for r in got)   # no-expansion prefix empty
        assert any(r["qid"] in (2, 3, 4) for r in got)


def test_randomized_boosting_demotion(spark, tmp_path):
    """Randomized sweep for boosting_search: on small Zipf corpora, the
    engine's demoted top-k at SMALL k (deepening forced by demoting the
    hottest term, which floods the first candidate page) equals a
    pure-python oracle — positive BM25 OR score, multiplied ONCE by
    negative_boost on negative-set membership, ranked (final DESC, docID
    ASC). Includes a two-term negative (membership not magnitude), a
    vocabulary-absent negative (no-op), and boost=1.0 (identity)."""
    import math

    import numpy as np

    from elastichash_spark.tokenize import tokenize_py

    for seed in (19, 43):
        rng = np.random.Generator(np.random.PCG64(seed))
        vocab = [f"b{i:02d}" for i in range(12)]
        probs = 1.0 / np.arange(1, len(vocab) + 1)
        probs /= probs.sum()
        rows = []
        for c in range(90):
            n_tok = int(rng.integers(1, 20))
            toks = rng.choice(vocab, size=n_tok, p=probs)
            rows.append((f"bq{seed}_{c:04d}", 0, "user", " ".join(toks), None, None))
        corpus = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        d = str(tmp_path / f"boost{seed}")
        build.build_index(
            spark, corpus, d,
            IndexConfig(num_shards=3, salt_buckets=2, block_size=4,
                        doc_order="doclen"),
        )
        docs = [(int(r["docID"]), tokenize_py(r["text"])) for r in
                spark.read.parquet(os.path.join(d, "docs"))
                .select("docID", "text").collect()]
        n_docs = len(docs)
        avgdl = sum(len(t) for _d, t in docs) / n_docs
        df: dict[str, int] = {}
        for _dd, t in docs:
            for term in set(t):
                df[term] = df.get(term, 0) + 1

        def bm25(qtoks, t):
            s = 0.0
            for term in set(qtoks):
                tf = t.count(term)
                if tf and term in df:
                    idf = math.log((n_docs - df[term] + 0.5) / (df[term] + 0.5) + 1.0)
                    s += idf * (tf / (tf + 1.2 * (0.25 + 0.75 * len(t) / avgdl)))
            return s

        hot = vocab[0]
        queries = [
            (0, f"{hot} {vocab[1]}", 3),     # hot query, hot demoted -> deepen
            (1, " ".join(rng.choice(vocab, size=2)), 1),
            (2, " ".join(rng.choice(vocab, size=3)), 5),
            (3, vocab[2], 100),
        ]
        negs = {0: hot, 1: f"{vocab[1]} {vocab[2]}", 2: "zzabsent", 3: vocab[0]}
        for boost in (0.25, 1.0):
            got = query.boosting_search(spark, d, queries, negs,
                                        negative_boost=boost) \
                .orderBy("qid", "rank").collect()
            want = []
            for qi, text, k in queries:
                qtoks = tokenize_py(text)
                nset = set(tokenize_py(negs[qi]))
                scored = []
                for dd, t in docs:
                    s = bm25(qtoks, t)
                    if s > 0:
                        f = s * boost if nset & set(t) else s
                        scored.append((f, dd))
                scored.sort(key=lambda x: (-x[0], x[1]))
                want += [(qi, i + 1, dd, round(s, 9))
                         for i, (s, dd) in enumerate(scored[:k])]
            key = lambda r: (r["qid"], r["rank"], r["docID"], round(r["score"], 9))
            assert sorted(key(r) for r in got) == sorted(want), \
                f"seed {seed} boost {boost}"
    with pytest.raises(ValueError, match="negative_boost"):
        query.boosting_search(spark, d, queries, negs, negative_boost=0.0)


def test_wildcard_search_matches_expansion_or(spark, t1, idx_dir):
    """wildcard_search equals (a) the engine run on the python-expanded OR
    query and (b) wildcard_to_regex's contract — '*' any run, '?' exactly
    one char, anchored — with term-ASC max_expansions truncation."""
    from elastichash_spark.query import wildcard_search, wildcard_to_regex
    import re

    vocab = sorted(t for t, _df in _vocab(spark, t1))
    assert re.match(wildcard_to_regex("a?c"), "abc")
    assert not re.match(wildcard_to_regex("a?c"), "ac")
    assert re.match(wildcard_to_regex("a*c"), "ac")
    assert not re.match(wildcard_to_regex("a*c"), "abcd")

    for pat, max_exp in (
        (vocab[3][:2] + "*", 50),
        ("*" + vocab[5][-2:], 50),
        (vocab[7][0] + "?" + vocab[7][2:], 50),
        (vocab[0][0] + "*", 2),      # truncation
        ("zzz*", 50),                # no expansion
    ):
        rx = re.compile(wildcard_to_regex(pat))
        exp = [t for t in vocab if rx.match(t)][:max_exp]
        got = wildcard_search(spark, idx_dir, [(0, pat, 8)],
                              max_expansions=max_exp) \
            .orderBy("rank").collect()
        if not exp:
            assert got == [], pat
            continue
        want = query.search(spark, idx_dir, [(0, " ".join(exp), 8)]) \
            .orderBy("rank").collect()
        key = lambda r: (r["rank"], r["docID"], round(r["score"], 9))
        assert [key(r) for r in got] == [key(r) for r in want], pat
        assert got, pat


def test_regexp_search_matches_expansion_or(spark, t1, idx_dir):
    """regexp_search equals the engine run on the python-expanded OR query:
    anchored full-term match, Java∩RE2 dialect, term-ASC truncation."""
    from elastichash_spark.query import regexp_search
    import re

    vocab = sorted(t for t, _df in _vocab(spark, t1))
    a, b = vocab[3], vocab[8]
    for pat, max_exp in (
        (f"{a}|{b}", 50),                  # alternation
        (f"{a[0]}[a-z0-9]*", 2),           # class + star, truncation
        ("qqqnope+", 50),                  # no expansion
    ):
        rx = re.compile(f"^(?:{pat})$")
        exp = [t for t in vocab if rx.match(t)][:max_exp]
        got = regexp_search(spark, idx_dir, [(0, pat, 8)],
                            max_expansions=max_exp).orderBy("rank").collect()
        if not exp:
            assert got == [], pat
            continue
        want = query.search(spark, idx_dir, [(0, " ".join(exp), 8)]) \
            .orderBy("rank").collect()
        key = lambda r: (r["rank"], r["docID"], round(r["score"], 9))
        assert [key(r) for r in got] == [key(r) for r in want], pat
        assert got, pat


def test_rescore_topk_semantics(spark):
    """rescore_topk: window selection on the rounded primary order, combined
    qw*p + rw*coalesce(s,0) re-rank inside the window, docs below the window
    NEVER return (even with a huge secondary score), k > window refused."""
    primary = spark.createDataFrame(
        [(0, d, 10.0 - d) for d in range(6)],  # primary order: 0,1,2,3,4,5
        "qid long, docID long, score double")
    secondary = spark.createDataFrame(
        [(0, 3, 5.0), (0, 5, 100.0)],  # 5 is OUTSIDE the window of 4
        "qid long, docID long, score double")
    ks = spark.createDataFrame([(0, 3)], "qid long, k int")
    got = [(r["rank"], r["docID"], r["score"])
           for r in query.rescore_topk(
               primary, secondary, ks, window_size=4,
               query_weight=1.0, rescore_weight=2.0)
           .orderBy("rank").collect()]
    # window = docs 0..3 (primary top-4); combined: 0->10, 1->9, 2->8,
    # 3->7+2*5=17; doc 5's secondary=100 is ignored (below window)
    assert got == [(1, 3, 17.0), (2, 0, 10.0), (3, 1, 9.0)]
    bad_ks = spark.createDataFrame([(0, 9)], "qid long, k int")
    with pytest.raises(ValueError, match="window_size"):
        query.rescore_topk(primary, secondary, bad_ks, window_size=4)
    with pytest.raises(ValueError, match="window_size"):
        query.rescore_topk(primary, secondary, ks, window_size=0)


def test_terms_set_search_required_field(spark, t1, idx_dir):
    """terms_set_search: per-doc requirement from a docs-table expression,
    DISTINCT-term counting (duplicate query tokens count once), verified
    against the oracle module's independent BM25 + incidence computation."""
    qs = [(0, "w00000 w00001 w00002 w00000", 8), (1, "w00000 zzabsentzz", 8)]
    req = "1 + docID % 2"  # alternating 1 / 2 matched-term requirement
    got = query.terms_set_search(spark, idx_dir, qs, req)
    rows = {(r["qid"], r["docID"]): (r["rank"], r["n_matched"],
                                     round(r["score"], 6))
            for r in got.collect()}

    docs_df = oracle.docs_with_ids(t1)
    from elastichash_spark.tokenize import with_term_freqs
    wtf = with_term_freqs(docs_df)
    n_docs, avgdl = oracle.corpus_stats(wtf)
    tf = oracle.tf_table(wtf)
    tdict = oracle.term_dict(tf)
    qdf = spark.createDataFrame(qs, "qid long, text string, k int")
    qterms = oracle.query_terms(qdf)
    scores = oracle.bm25_scores(tf, tdict, qterms, n_docs, avgdl)
    counts = (
        qterms.join(tf, "term").groupBy("qid", "docID")
        .agg(F.count("*").alias("nm"))
    )
    brute = (
        scores.join(counts, ["qid", "docID"])
        .where(F.col("nm") >= 1 + F.col("docID") % 2)
    )
    from pyspark.sql import Window
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 6)), F.asc("docID"))
    want = {(r["qid"], r["docID"]): (r["rk"], r["nm"], round(r["score"], 6))
            for r in brute.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 8).collect()}
    assert rows == want and len(want) > 0
    # duplicate-token query: no doc may report more matched terms than the
    # DISTINCT token count (3 for qid 0), and qid 1's absent term never counts
    assert max(nm for (q, _d), (_r, nm, _s) in rows.items() if q == 0) <= 3
    assert all(nm == 1 for (q, _d), (_r, nm, _s) in rows.items() if q == 1)


def test_map_chunk_flushes_byte_identical(spark, t1, idx_dir, tmp_path):
    """map_chunk_rows=64 forces the map-side run builder to flush dozens of
    times per partition, splitting every (term, shard, salt) group into many
    partial runs; the postings merge folds arbitrary run multiplicity, so
    the final index is byte-identical to the default single-flush build."""
    d = str(tmp_path / "chunked")
    build.build_index(
        spark, t1, d,
        IndexConfig(num_shards=8, salt_buckets=4, map_chunk_rows=64),
    )
    assert _postings_fingerprint(spark, d) == _postings_fingerprint(spark, idx_dir)


def _merge_kernel_out(rows, block_size=2, avgdl=5.0):
    """Drive _merge_runs_arrow_factory directly: rows = [(termID, shard,
    idf, docs, tfs, dls)] — one encoded run per row, group-adjacent order
    preserved. Returns the decoded (termID, shard, block_id, docIDs, tfs,
    dls, max_impact) list."""
    import pyarrow as pa

    blobs, metas = [], []
    for termID, shard, idf, docs, tfs, dls in rows:
        docs = np.asarray(docs, dtype=np.int64)
        tfs = np.asarray(tfs, dtype=np.int32)
        dls = np.asarray(dls, dtype=np.int32)
        data, offs = codec.encode_runs_grouped(
            docs, tfs, dls, np.array([0]), np.array([len(docs)]))
        blobs.append(data.tobytes())
        metas.append((termID, shard, len(docs), idf))
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([m[0] for m in metas], pa.int64()),
            pa.array([m[1] for m in metas], pa.int32()),
            pa.array([m[2] for m in metas], pa.int32()),
            pa.array([m[3] for m in metas], pa.float64()),
            pa.array(blobs, pa.binary()),
        ],
        names=["termID", "shard", "n", "idf", "blob"],
    )
    kernel = build._merge_runs_arrow_factory(block_size, avgdl)
    out = []
    for ob in kernel(iter([batch])):
        for i in range(ob.num_rows):
            r = {name: ob.column(name)[i].as_py() for name in ob.schema.names}
            d_, t_, l_ = codec.decode_run(r["blob"], r["n"])
            out.append((r["termID"], r["shard"], r["block_id"],
                        list(d_), list(t_), list(l_), r["max_impact"]))
    return out


def test_merge_kernel_sort_fallback_overlapping_runs():
    """Runs whose docID ranges OVERLAP (never produced by the fresh build,
    whose map partitions are docID-contiguous — but possible for arbitrary
    salted inputs) must fail the O(runs) disjointness check and take the
    lexsort fallback, producing output byte-identical to the same postings
    presented as one pre-sorted run."""
    overlapping = _merge_kernel_out([
        (7, 0, 1.5, [1, 5, 9], [1, 2, 3], [10, 11, 12]),
        (7, 0, 1.5, [2, 3, 10], [4, 5, 6], [13, 14, 15]),
    ])
    presorted = _merge_kernel_out([
        (7, 0, 1.5, [1, 2, 3, 5, 9, 10], [1, 4, 5, 2, 3, 6],
         [10, 13, 14, 11, 12, 15]),
    ])
    assert overlapping == presorted
    merged_docs = [d for _t, _s, _b, docs, _tf, _dl, _m in overlapping for d in docs]
    assert merged_docs == sorted(merged_docs)


def test_merge_kernel_fast_path_disjoint_runs():
    """Range-disjoint runs (the fresh-build common case) skip the sort; the
    result equals both the overlap arrangement of the same postings and the
    single-run presentation — the two kernel paths are interchangeable."""
    disjoint = _merge_kernel_out([
        (7, 0, 1.5, [1, 2, 3], [1, 4, 5], [10, 13, 14]),
        (7, 0, 1.5, [5, 9, 10], [2, 3, 6], [11, 12, 15]),
        (8, 1, 0.7, [4], [1], [9]),
    ])
    presorted = _merge_kernel_out([
        (7, 0, 1.5, [1, 2, 3, 5, 9, 10], [1, 4, 5, 2, 3, 6],
         [10, 13, 14, 11, 12, 15]),
        (8, 1, 0.7, [4], [1], [9]),
    ])
    assert disjoint == presorted


def test_analyzer_index_end_to_end(spark, tmp_path):
    """Analyzer-configured index (stopwords + s-stemmer): stopword query
    tokens neither score nor count toward clauses (an all-stopword query
    matches nothing), plural query forms match singular documents through
    the stemmer, and doclen/avgdl are post-stopword statistics. The
    exactness chain is certified against DuckDB by the bm25_analyzed suite
    entry; this pins the engine-level behaviors."""
    docs = spark.createDataFrame(
        [("c0", 0, "the table of values"),
         ("c0", 1, "tables and more tables"),
         ("c1", 0, "the the the"),
         ("c1", 1, "query plans for the optimizer")],
        "conv_id string, turn_idx int, text string")
    d = str(tmp_path / "aidx")
    cfg = IndexConfig(num_shards=2, salt_buckets=2,
                      stopwords=("the", "a", "an", "and", "of", "for"),
                      stem=True)
    meta = build.build_index(spark, docs, d, cfg)
    # avgdl over post-stop doclens: [2, 3, 0, 3] -> 2.0
    assert meta["n_docs"] == 4 and abs(meta["avgdl"] - 2.0) < 1e-9
    # plural query matches BOTH singular and plural docs via the stemmer
    res = query.search(spark, d, [(0, "tables", 10)])
    assert {r["docID"] for r in res.collect()} == {
        r["docID"] for r in query.search(spark, d, [(1, "table", 10)]).collect()
    } and res.count() == 2
    # all-stopword query: zero clauses, no results (not a match-all)
    assert query.search(spark, d, [(2, "the of and", 10)]).count() == 0
    # stopword in a multi-term query does not count toward min_should_match
    msm = query.search(spark, d, [(3, "the query plans", 10)],
                       min_should_match=2)
    assert msm.count() == 1  # 'query'+'plan' both hit doc c1/1


def test_sloppy_phrase_vs_python_oracle(spark, t1, idx_dir):
    """Randomized sloppy-phrase cross-check: phrase_search(slop=s) equals a
    brute-force Python recomputation of the pinned semantics (greedy
    leftmost in-order within gap <= slop, weight 1/(gap+1), min-tf cap,
    idf_sum * BM25 saturation) over the t1 corpus, for bigrams/trigrams
    sampled from corpus text at several slops, full-k."""
    import math
    import random

    from elastichash_spark.tokenize import tokenize_py

    rows = t1.select("conv_id", "turn_idx", "text").collect()
    docs = {}
    for r in rows:
        docs[(r["conv_id"], r["turn_idx"])] = tokenize_py(r["text"])
    # docID assignment: default key order over (conv_id, turn_idx)
    ids = {k: i for i, k in enumerate(sorted(docs))}
    n = len(docs)
    dls = {ids[k]: len(v) for k, v in docs.items()}
    avgdl = sum(dls.values()) / n
    dfreq = {}
    for toks in docs.values():
        for t in set(toks):
            dfreq[t] = dfreq.get(t, 0) + 1

    rng = random.Random(77)
    texted = [v for v in docs.values() if len(v) >= 6]
    cases = []
    for qid in range(8):
        src = rng.choice(texted)
        i = rng.randrange(len(src) - 3)
        L = rng.choice((2, 3))
        phrase = src[i:i + L]
        cases.append((qid, " ".join(phrase), 1_000_000, rng.choice((1, 2, 3))))

    def sat(pf, dl):
        return pf / (pf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    def py_pf(toks, phr, s):
        L = len(phr)
        total = 0.0
        for i in range(max(0, len(toks) - L + 1)):
            if toks[i] != phr[0]:
                continue
            window = toks[i + 1: i + L + s]
            m, e = 0, 0
            for p, tok in enumerate(window, 1):
                if m < L - 1 and tok == phr[m + 1]:
                    m += 1
                    e = p
            if m == L - 1:
                total += 1.0 / (e - (L - 1) + 1)
        if total == 0.0:
            return 0.0
        return min(total, min(sum(1 for x in toks if x == t)
                              for t in set(phr)))

    want = {}
    for qid, text, _k, s in cases:
        phr = text.split()
        idf_sum = sum(
            math.log((n - dfreq.get(t, 0) + 0.5) / (dfreq.get(t, 0) + 0.5) + 1)
            for t in set(phr) if t in dfreq)
        scored = []
        for key, toks in docs.items():
            pf = py_pf(toks, phr, s)
            if pf > 0:
                scored.append((ids[key], idf_sum * sat(pf, dls[ids[key]])))
        scored.sort(key=lambda x: (-round(x[1], 9), x[0]))
        want[qid] = scored

    got = query.phrase_search(
        spark, idx_dir, [(q, t, k) for q, t, k, _s in cases],
        slop={q: s for q, t, _k, s in cases})
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["qid"], []).append((r["rank"], r["docID"], r["score"]))
    matched = 0
    for qid, _t, _k, _s in cases:
        exp = want[qid]
        gotq = sorted(by_q.get(qid, []))
        assert len(gotq) == len(exp), (qid, len(gotq), len(exp))
        for (rk, d, s_), (ed, es) in zip(gotq, exp):
            assert d == ed and abs(s_ - es) < 1e-9, (qid, rk, d, ed, s_, es)
            matched += 1
    assert matched > 0  # fixtures must actually exercise matches


def test_search_mining_allow_lane(spark, t1, idx_dir, tmp_path):
    """The r05 mining allow-set lane: search_mining over a TOMBSTONED
    index and under a doc_filter is rank-identical to search() with the
    same filter/tombstones (which masks at the decode boundary), the old
    loud refusal is gone, and deleted docs never surface."""
    import shutil

    from elastichash_spark import deletes

    docs = t1.selectExpr(
        "monotonically_increasing_id() AS qid", "text").limit(50)
    qlist = [(int(r["qid"]), r["text"], 5) for r in docs.collect()]
    key = lambda r: (r["qid"], r["rank"], r["docID"], round(r["score"], 9))

    # doc_filter lane on the clean index
    pred = "doclen >= 8"
    got = query.search_mining(spark, idx_dir, docs, k=5,
                              queries_per_bucket=16, doc_filter=pred) \
        .orderBy("qid", "rank").collect()
    want = query.search(spark, idx_dir, qlist, doc_filter=pred) \
        .orderBy("qid", "rank").collect()
    assert [key(r) for r in got] == [key(r) for r in want] and got

    # tombstone lane on a deleted copy
    idx = str(tmp_path / "delmine")
    shutil.copytree(idx_dir, idx)
    n = deletes.delete_by_query(spark, idx, "docID % 3 = 1")
    assert n > 0
    got_t = query.search_mining(spark, idx, docs, k=5,
                                queries_per_bucket=16) \
        .orderBy("qid", "rank").collect()
    want_t = query.search(spark, idx, qlist).orderBy("qid", "rank").collect()
    assert [key(r) for r in got_t] == [key(r) for r in want_t] and got_t
    assert all(r["docID"] % 3 != 1 for r in got_t)
    # both lanes composed, exact strategy
    got_b = query.search_mining(spark, idx, docs, k=5, strategy="exact",
                                queries_per_bucket=16, doc_filter=pred) \
        .orderBy("qid", "rank").collect()
    want_b = query.search(spark, idx, qlist, strategy="exact",
                          doc_filter=pred).orderBy("qid", "rank").collect()
    assert [key(r) for r in got_b] == [key(r) for r in want_b] and got_b


def test_analyzer_composes_with_query_frontends(spark, tmp_path):
    """The analyzer chain applies uniformly across the DSL front-ends on
    an analyzer-configured index: phrase verify reads the analyzed token
    stream (stopwords absent, stems matched), must_not/negative clauses
    analyze like ES field analysis, boost keys land on their stemmed
    dictionary forms, and explain resolves analyzed terms."""
    docs = spark.createDataFrame(
        [("c0", 0, "call the tool now"),
         ("c0", 1, "call tool now"),
         ("c1", 0, "tools called the report"),
         ("c1", 1, "report without that verb here")],
        "conv_id string, turn_idx int, text string")
    d = str(tmp_path / "caidx")
    cfg = IndexConfig(num_shards=2, salt_buckets=2,
                      stopwords=("the", "a", "an"), stem=True)
    build.build_index(spark, docs, d, cfg)

    # phrase "call the tool": stopword leaves the phrase, 'tool' matches
    # doc 'tools' via the stem, and BOTH "call the tool" and "call tool"
    # docs match the 2-token analyzed phrase consecutively
    ph = query.phrase_search(spark, d, [(0, "call the tools", 10)])
    assert ph.count() == 2
    # sloppy variant widens to nothing extra here but must not error
    assert query.phrase_search(
        spark, d, [(1, "call now", 10)], slop={1: 1}).count() == 2

    # must_not: excluding a stopword excludes nothing; excluding a plural
    # surface excludes its stem's docs
    b1 = query.bool_search(spark, d, [(2, "report", 10)], must_not="the")
    assert b1.count() == 2
    b2 = query.bool_search(spark, d, [(3, "report", 10)], must_not="calls")
    assert {r["docID"] for r in b2.collect()} == {
        r["docID"] for r in query.search(spark, d, [(3, "report", 10)])
        .collect()} - {r["docID"] for r in query.search(
            spark, d, [(3, "call", 10)]).collect()}

    # boost key on a plural surface applies to the stemmed clause
    plain = {r["docID"]: r["score"] for r in query.search(
        spark, d, [(4, "call report", 10)]).collect()}
    boosted = {r["docID"]: r["score"] for r in query.search(
        spark, d, [(4, "call report", 10)],
        boosts={4: {"calls": 3.0}}).collect()}
    assert any(boosted[doc] > plain[doc] for doc in plain)

    # explain resolves the analyzed term
    ex = query.explain_score(spark, d, "the tools", doc_ids=[0, 1, 2, 3])
    assert {r["term"] for r in ex.collect()} == {"tool"}


def test_percolate_with_analyzer(spark):
    """Index-less percolation under an explicit analyzer chain: registry
    and documents analyze identically (stopwords vanish from standing
    queries and match counts, stems and synonyms merge surfaces, phrase
    percolation verifies over the analyzed stream)."""
    an = (("the", "a"), True, (("db", "database"),))
    docs = spark.createDataFrame(
        [(1, "the databases crashed"), (2, "a db crashed again"),
         (3, "crashed the report"), (4, "nothing here")],
        "doc_id long, text string")
    reg = [(10, "db crashed", 2),        # both terms required
           (11, "the"),                  # all-stopword: matches nothing
           (12, '"db crashed"')]         # phrase across synonym+stem
    got = {(r["doc_id"], r["qid"]) for r in
           query.percolate(reg, docs, analyzer=an).collect()}
    # qid 10: docs 1 and 2 carry analyzed {database, crashed}
    assert {(d, q) for d, q in got if q == 10} == {(1, 10), (2, 10)}
    assert not [g for g in got if g[1] == 11]
    # phrase "db crashed" -> analyzed [database, crashed]: doc 1 has the
    # consecutive analyzed run (the stopword leaves the stream); doc 2
    # too ("a db crashed" -> [database, crashed, again])
    assert {(d, q) for d, q in got if q == 12} == {(1, 12), (2, 12)}
