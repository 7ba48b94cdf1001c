"""Incremental dictionary updates + copy-on-write recanonicalization.

The gate for incremental_canon is EXACT equivalence with a from-scratch
recompute (union_find_canonical over the union dictionary) — the min-id
representative is a history-independent function of the merged alias set,
so any divergence is a bug, not a tolerance."""

import os

import pandas as pd
import pytest

from char_ner_spark.fixtures import make_alias_table, make_pages
from char_ner_spark.linking import union_find_canonical

ALIAS_COLS = ["entity_id", "canonical_name", "alias", "lang", "prior",
              "ner_type"]


def _row(eid, name, alias, lang="en", prior=0.5, ner="ORG"):
    return (eid, name, alias, lang, prior, ner)


@pytest.fixture(scope="module")
def base_alias():
    return make_alias_table(60, seed=7)


@pytest.fixture(scope="module")
def delta_alias(base_alias):
    """A delta that exercises every interesting case: a bridge between two
    old components, a brand-new entity with a smaller id than every old
    one (steals the canonical label), a brand-new isolated entity, and a
    re-sent existing row."""
    old = union_find_canonical(base_alias)
    comps: dict[int, int] = {}
    for eid, c in old.items():
        comps.setdefault(c, eid)
    cs = sorted(comps)
    assert len(cs) >= 3, "fixture needs several old components"
    c1, c2 = cs[0], cs[1]
    alias_of = dict(zip(base_alias["entity_id"], base_alias["alias"]))
    rows = [
        # bridge: an alias of c1's representative re-attributed to a member
        # of c2's component → the two components must merge to min(c1, c2)
        _row(comps[c2], "Bridge Corp", alias_of[comps[c1]]),
        # smaller-id newcomer sharing an alias with component c3 → c3's
        # entities must all remap to the newcomer's id
        _row(-5, "Elder Corp", alias_of[comps[cs[2]]]),
        # isolated brand-new entity
        _row(10_000, "Fresh Corp", "fresh corp"),
        _row(10_000, "Fresh Corp", "freshco"),
        # re-sent existing row (idempotence)
        _row(int(base_alias.iloc[0]["entity_id"]),
             base_alias.iloc[0]["canonical_name"],
             base_alias.iloc[0]["alias"],
             base_alias.iloc[0]["lang"],
             float(base_alias.iloc[0]["prior"]),
             base_alias.iloc[0]["ner_type"]),
    ]
    return pd.DataFrame(rows, columns=ALIAS_COLS)


def _canon_dict(df):
    pdf = df.toPandas()
    return dict(zip(pdf["entity_id"].astype("int64"),
                    pdf["canonical_id"].astype("int64")))


def test_incremental_equals_full_recompute(spark, base_alias, delta_alias):
    from char_ner_spark.incremental import update_dictionary_state
    from char_ner_spark.pipeline import build_dictionary_state

    state = build_dictionary_state(spark, base_alias)
    new_state, remap = update_dictionary_state(spark, state, base_alias,
                                               delta_alias)
    want = union_find_canonical(pd.concat([base_alias, delta_alias],
                                          ignore_index=True))
    assert _canon_dict(new_state["canon"]) == want
    # remap composes old → new for every old entity
    old = _canon_dict(state["canon"])
    r = {int(x.old_canonical_id): int(x.new_canonical_id)
         for x in remap.toPandas().itertuples()}
    for eid, c in old.items():
        assert r.get(c, c) == want[eid]
    # non-identity only, and nothing outside the genuinely changed set
    assert all(k != v for k, v in r.items())


def test_incremental_distributed_path_parity(spark, base_alias, delta_alias,
                                             monkeypatch):
    from char_ner_spark import pipeline
    from char_ner_spark.incremental import incremental_canon
    from char_ner_spark.pipeline import build_dictionary_state

    state = build_dictionary_state(spark, base_alias)
    with monkeypatch.context() as m:
        m.setattr(pipeline, "CC_DISTRIBUTED_THRESHOLD", 0)
        canon_d, remap_d = incremental_canon(spark, state["canon"],
                                             base_alias, delta_alias)
    want = union_find_canonical(pd.concat([base_alias, delta_alias],
                                          ignore_index=True))
    assert _canon_dict(canon_d) == want
    canon_s, remap_s = incremental_canon(spark, state["canon"], base_alias,
                                         delta_alias)
    assert (
        set(map(tuple, remap_d.toPandas().itertuples(index=False)))
        == set(map(tuple, remap_s.toPandas().itertuples(index=False)))
    )


def test_empty_delta_is_identity(spark, base_alias):
    from char_ner_spark.incremental import incremental_canon
    from char_ner_spark.pipeline import build_dictionary_state

    state = build_dictionary_state(spark, base_alias)
    canon, remap = incremental_canon(spark, state["canon"], base_alias,
                                     base_alias.iloc[0:0])
    assert remap.count() == 0
    assert _canon_dict(canon) == _canon_dict(state["canon"])


def test_untouched_components_keep_ids(spark, base_alias):
    """A delta that only adds an isolated entity must remap nothing."""
    from char_ner_spark.incremental import update_dictionary_state
    from char_ner_spark.pipeline import build_dictionary_state

    state = build_dictionary_state(spark, base_alias)
    delta = pd.DataFrame([_row(99_999, "Island Corp", "island corp zx")],
                         columns=ALIAS_COLS)
    new_state, remap = update_dictionary_state(spark, state, base_alias,
                                               delta)
    assert remap.count() == 0
    got = _canon_dict(new_state["canon"])
    assert got[99_999] == 99_999
    old = _canon_dict(state["canon"])
    assert {k: v for k, v in got.items() if k != 99_999} == old


def test_incremental_bands_equal_full_rebuild(spark, base_alias, delta_alias):
    from char_ner_spark.incremental import update_dictionary_state
    from char_ner_spark.pipeline import alias_spark_tables, \
        build_dictionary_state

    state = build_dictionary_state(spark, base_alias)
    new_state, _ = update_dictionary_state(spark, state, base_alias,
                                           delta_alias)
    full = alias_spark_tables(
        spark, pd.concat([base_alias, delta_alias], ignore_index=True)
    )["bands"]
    key = lambda df: set(map(tuple, df.toPandas().itertuples(index=False)))
    assert key(new_state["bands"]) == key(full)


@pytest.fixture(scope="module")
def kg_run(spark, base_alias):
    from char_ner_spark.pipeline import run_pipeline

    pages = make_pages(30, seed=7, alias_df=base_alias)
    out = run_pipeline(spark, spark.createDataFrame(pages), base_alias)
    return pages, out


def _linked_bridge_delta(base_alias, triples_pdf):
    """Craft a delta bridging two components that actually occur in the
    materialized triples, so the remap provably touches stored rows."""
    subs = sorted(set(triples_pdf["subj"]) | set(triples_pdf["obj"]))
    old = union_find_canonical(base_alias)
    alias_of = dict(zip(base_alias["entity_id"], base_alias["alias"]))
    present = [c for c in subs if c in old.values()]
    assert len(present) >= 2, "need two canonical ids present in triples"
    c1, c2 = present[0], present[1]
    member = {c: eid for eid, c in sorted(old.items(), reverse=True)}
    return pd.DataFrame(
        [_row(member[c2], "Bridge Corp", alias_of[member[c1]])],
        columns=ALIAS_COLS,
    )


def test_recanonicalize_triples_equals_recompute(spark, base_alias, kg_run):
    from char_ner_spark.incremental import (recanonicalize_triples,
                                            update_dictionary_state)
    from char_ner_spark.pipeline import (build_dictionary_state,
                                         extract_triples, middles_table)

    _, out = kg_run
    triples_old = out["triples"]
    delta = _linked_bridge_delta(base_alias, triples_old.toPandas())
    state = {"canon": out["canon"], "bands": None}
    state2 = build_dictionary_state(spark, base_alias)
    new_state, remap = update_dictionary_state(spark, state2, base_alias,
                                               delta)
    assert remap.count() >= 1
    want = extract_triples(out["linked"], new_state["canon"],
                           middles_table(spark)).toPandas()
    got = recanonicalize_triples(triples_old, remap).toPandas()
    key = lambda df: set(
        map(tuple, df[["subj", "pred", "obj", "url", "sent_idx", "conf"]]
            .round({"conf": 6}).itertuples(index=False))
    )
    assert key(got) == key(want)


def test_apply_dictionary_update_cow(spark, base_alias, tmp_path_factory):
    """End-to-end copy-on-write: only touched parts rewritten, time travel
    intact, edges re-derived, GC reclaims superseded parts after expiry."""
    from char_ner_spark import lineage
    from char_ner_spark.incremental import (apply_dictionary_update,
                                            recanonicalize_triples,
                                            update_dictionary_state)
    from char_ner_spark.pipeline import build_dictionary_state, \
        edges_from_triples

    out_dir = str(tmp_path_factory.mktemp("cow"))
    pages = make_pages(30, seed=7, alias_df=base_alias)
    lineage.run_partitioned(spark, spark.createDataFrame(pages), base_alias,
                            out_dir, n_parts=3,
                            sinks=("triples", "edges", "entities"))
    s0 = lineage.current_snapshot(out_dir)["snapshot_id"]
    before = lineage.read_triples(spark, out_dir).drop("part_id").toPandas()
    delta = _linked_bridge_delta(base_alias, before)
    state = build_dictionary_state(spark, base_alias)
    new_state, remap = update_dictionary_state(spark, state, base_alias,
                                               delta)
    union_pdf = pd.concat([base_alias, delta], ignore_index=True)
    stats = apply_dictionary_update(spark, out_dir, remap,
                                    alias_pdf=union_pdf,
                                    canon=new_state["canon"])
    assert stats["triples"]["rewritten"], "bridge delta must touch parts"

    key = lambda pdf: set(
        map(tuple, pdf[["subj", "pred", "obj", "url", "sent_idx", "conf"]]
            .round({"conf": 6}).itertuples(index=False))
    )
    after = lineage.read_triples(spark, out_dir).drop("part_id").toPandas()
    want = recanonicalize_triples(
        spark.createDataFrame(before), remap).toPandas()
    assert key(after) == key(want)
    assert key(after) != key(before)

    # pinned time travel still reads the PRE-update table
    pinned = lineage.read_triples(spark, out_dir,
                                  snapshot_id=s0).drop("part_id").toPandas()
    assert key(pinned) == key(before)

    # edges re-derived from the rewritten triples (weights collapse-safe)
    got_e = lineage.read_edges(spark, out_dir).toPandas()
    want_e = (
        edges_from_triples(lineage.read_triples(spark, out_dir)
                           .drop("part_id"))
        .toPandas()
    )
    ekey = lambda pdf: {
        (r.src, r.dst, r.rel): round(r.weight, 6)
        for r in pdf.itertuples()
    }
    assert ekey(got_e) == ekey(want_e)

    # entities dimension refreshed with the delta's new rows
    ents = lineage.read_table(spark, out_dir, "entities").toPandas()
    assert set(delta["entity_id"]).issubset(set(ents["entity_id"]))

    # resume on the updated out_dir is a no-op (all units still complete)
    again = lineage.run_partitioned(
        spark, spark.createDataFrame(pages), base_alias, out_dir, n_parts=3,
        sinks=("triples", "edges", "entities"))
    assert again == []

    # GC: superseded dirs survive while a snapshot references them...
    assert lineage.gc_orphan_parts(spark, out_dir, "triples") == []
    # ...and are reclaimed once every referencing snapshot expires
    lineage.expire_snapshots(out_dir, table="triples", keep_last=1)
    removed = lineage.gc_orphan_parts(spark, out_dir, "triples")
    assert set(removed) == {p for p, _ in stats["triples"]["rewritten"]}
    still = lineage.read_triples(spark, out_dir).drop("part_id").toPandas()
    assert key(still) == key(after)
    # expired pin now fails loud instead of silently glob-reading
    with pytest.raises(FileNotFoundError):
        lineage.read_triples(spark, out_dir, snapshot_id=s0)
    for p, _ in stats["triples"]["rewritten"]:
        assert not os.path.isdir(os.path.join(out_dir, "triples",
                                              f"part_id={p}"))


def test_apply_dictionary_update_stream_sink(spark, base_alias,
                                             tmp_path_factory):
    """COW recanonicalization covers the streaming sink too: rewritten
    parts land in the reserved id range (a resumed stream can never
    dynamic-overwrite them), time travel keeps the pre-update state, GC
    reclaims superseded batch dirs after expiry."""
    import os

    from char_ner_spark import lineage
    from char_ner_spark import streaming as ST
    from char_ner_spark.incremental import (_STREAM_REWRITE_PID_BASE,
                                            apply_dictionary_update,
                                            recanonicalize_triples,
                                            update_dictionary_state)
    from char_ner_spark.pipeline import build_dictionary_state

    d = str(tmp_path_factory.mktemp("stream_cow"))
    src, out, ck = (os.path.join(d, n) for n in ("pages", "out", "ck"))
    pages = make_pages(30, seed=7, alias_df=base_alias)
    spark.createDataFrame(pages.iloc[:15]).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(pages.iloc[15:]).coalesce(1) \
        .write.mode("append").parquet(src)
    ST.stream_triples(spark, src, base_alias, out, ck)

    tbl = "stream_triples"
    s0 = lineage.current_snapshot(out, table=tbl)["snapshot_id"]
    before = lineage.read_table(spark, out, tbl).drop("batch_id").toPandas()
    delta = _linked_bridge_delta(base_alias, before)
    state = build_dictionary_state(spark, base_alias)
    _, remap = update_dictionary_state(spark, state, base_alias, delta)
    stats = apply_dictionary_update(spark, out, remap)
    assert stats[tbl]["rewritten"], "bridge delta must touch stream parts"
    assert all(new >= _STREAM_REWRITE_PID_BASE
               for _, new in stats[tbl]["rewritten"])

    key = lambda pdf: set(
        map(tuple, pdf[["subj", "pred", "obj", "url", "sent_idx", "conf"]]
            .round({"conf": 6}).itertuples(index=False))
    )
    after = lineage.read_table(spark, out, tbl).drop("batch_id").toPandas()
    want = recanonicalize_triples(
        spark.createDataFrame(before), remap).toPandas()
    assert key(after) == key(want)
    assert key(after) != key(before)
    pinned = lineage.read_table(spark, out, tbl,
                                snapshot_id=s0).drop("batch_id").toPandas()
    assert key(pinned) == key(before)

    assert lineage.gc_orphan_parts(spark, out, tbl) == []
    lineage.expire_snapshots(out, table=tbl, keep_last=1)
    removed = lineage.gc_orphan_parts(spark, out, tbl)
    assert set(removed) == {p for p, _ in stats[tbl]["rewritten"]}
    still = lineage.read_table(spark, out, tbl).drop("batch_id").toPandas()
    assert key(still) == key(after)


# ---------------------------------------------------------------------------
# property fuzz: ANY dictionary/delta split must equal the full recompute
# (pure core — no Spark in the loop, so hundreds of examples are cheap)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_ALIAS_POOL = ["acme", "acme corp", "globex", "initech", "umbrella",
               "wayne ent", "stark", "hooli", "pied piper", "aviato",
               "x", "yz", ""]  # "" exercises the empty-norm group


@st.composite
def _dict_and_delta(draw):
    n_base = draw(st.integers(1, 12))
    n_delta = draw(st.integers(0, 8))
    def rows(n, lo, hi):
        return [(draw(st.integers(lo, hi)), draw(st.sampled_from(_ALIAS_POOL)))
                for _ in range(n)]
    # delta may reference existing entities (0..9), brand-new larger ids,
    # and brand-new SMALLER ids (negative) that steal canonical labels
    base = rows(n_base, 0, 9)
    delta = rows(n_delta, -3, 15)
    cols = ["entity_id", "alias"]
    return (pd.DataFrame(base, columns=cols), pd.DataFrame(delta, columns=cols))


@settings(max_examples=300, deadline=None)
@given(_dict_and_delta())
def test_incremental_pure_core_fuzz(dd):
    from char_ner_spark.incremental import _incremental_canon_pure

    base, delta = dd
    old_map = union_find_canonical(base)
    new_map, remap_rows = _incremental_canon_pure(old_map, base, delta)
    want = union_find_canonical(pd.concat([base, delta], ignore_index=True))
    assert new_map == want
    r = dict(remap_rows)
    assert all(k != v for k, v in r.items())
    for eid, c in old_map.items():
        assert r.get(c, c) == want[eid]


def test_apply_guard_edges_without_triples(spark, base_alias,
                                           tmp_path_factory):
    """Edges partials can't be recanonicalized alone (merged weights need
    per-triple dedup) — fail loud, never silently remap."""
    from char_ner_spark import lineage
    from char_ner_spark.incremental import apply_dictionary_update

    out_dir = str(tmp_path_factory.mktemp("edges_only"))
    pages = make_pages(10, seed=7, alias_df=base_alias)
    lineage.run_partitioned(spark, spark.createDataFrame(pages), base_alias,
                            out_dir, n_parts=2, sinks=("edges",))
    remap = spark.createDataFrame(
        pd.DataFrame({"old_canonical_id": [1], "new_canonical_id": [0]}),
        schema="old_canonical_id long, new_canonical_id long")
    with pytest.raises(ValueError, match="without the triples sink"):
        apply_dictionary_update(spark, out_dir, remap)


def test_apply_empty_remap_is_noop(spark, base_alias, tmp_path_factory):
    from char_ner_spark import lineage
    from char_ner_spark.incremental import apply_dictionary_update

    out_dir = str(tmp_path_factory.mktemp("noop"))
    pages = make_pages(10, seed=7, alias_df=base_alias)
    lineage.run_partitioned(spark, spark.createDataFrame(pages), base_alias,
                            out_dir, n_parts=2, sinks=("triples",))
    s0 = lineage.current_snapshot(out_dir)["snapshot_id"]
    remap = spark.createDataFrame(
        [], schema="old_canonical_id long, new_canonical_id long")
    assert apply_dictionary_update(spark, out_dir, remap) == {}
    assert lineage.current_snapshot(out_dir)["snapshot_id"] == s0


def test_compaction_after_cow_preserves_content(spark, base_alias,
                                                tmp_path_factory):
    """compact_table over a COW-updated snapshot rewrites layout only —
    checksums (hence snapshots, hence readers) are invariant."""
    from char_ner_spark import lineage
    from char_ner_spark.incremental import (apply_dictionary_update,
                                            update_dictionary_state)
    from char_ner_spark.pipeline import build_dictionary_state

    out_dir = str(tmp_path_factory.mktemp("cow_compact"))
    pages = make_pages(30, seed=7, alias_df=base_alias)
    lineage.run_partitioned(spark, spark.createDataFrame(pages), base_alias,
                            out_dir, n_parts=3, sinks=("triples",))
    before = lineage.read_triples(spark, out_dir).drop("part_id").toPandas()
    delta = _linked_bridge_delta(base_alias, before)
    state = build_dictionary_state(spark, base_alias)
    _, remap = update_dictionary_state(spark, state, base_alias, delta)
    stats = apply_dictionary_update(spark, out_dir, remap)
    assert stats["triples"]["rewritten"]
    after = lineage.read_triples(spark, out_dir).drop("part_id").toPandas()
    lineage.compact_table(spark, out_dir, "triples")
    key = lambda pdf: set(
        map(tuple, pdf[["subj", "pred", "obj", "url", "sent_idx", "conf"]]
            .round({"conf": 6}).itertuples(index=False)))
    compacted = lineage.read_triples(spark, out_dir).drop("part_id").toPandas()
    assert key(compacted) == key(after)


def test_footer_stats_pruning(spark, tmp_path):
    """Footer min/max pruning keeps exactly the parts whose id ranges can
    contain a remapped id — and stays conservative when stats are absent."""
    from char_ner_spark.incremental import (_parts_min_max,
                                            _prune_parts_by_stats)

    base = str(tmp_path / "t")
    mk = lambda lo, n: pd.DataFrame({
        "subj": range(lo, lo + n), "pred": ["p"] * n,
        "obj": range(lo + 100, lo + 100 + n),
    })
    spark.createDataFrame(mk(0, 5)).coalesce(1).write.parquet(
        f"{base}/part_id=0")
    spark.createDataFrame(mk(1000, 5)).coalesce(1).write.parquet(
        f"{base}/part_id=1")
    stats = _parts_min_max(base, "part_id", [0, 1], ("subj", "obj"))
    assert stats[0]["subj"] == (0, 4) and stats[0]["obj"] == (100, 104)
    assert stats[1]["subj"] == (1000, 1004)
    # key 1002 hits only part 1's subj range
    assert _prune_parts_by_stats(base, "part_id", [0, 1], ("subj", "obj"),
                                 {1002}) == [1]
    # key 103 hits only part 0's obj range
    assert _prune_parts_by_stats(base, "part_id", [0, 1], ("subj", "obj"),
                                 {103}) == [0]
    # key outside every range prunes everything
    assert _prune_parts_by_stats(base, "part_id", [0, 1], ("subj", "obj"),
                                 {500}) == []
    # a column missing from the files → conservative keep
    assert _prune_parts_by_stats(base, "part_id", [0, 1],
                                 ("subj", "nope"), {500}) == [0, 1]
    # a missing part dir gets no stats entry and is kept
    assert _prune_parts_by_stats(base, "part_id", [0, 7], ("subj",),
                                 {2}) == [0, 7]


def test_sequential_deltas_compose(spark, base_alias, tmp_path_factory):
    """Two dictionary deltas applied one after another — both to the canon
    state and via COW to the stored triples — must equal the one-shot
    recompute over the full union. Exercises repeated COW on the same
    out_dir (part-id continuation, manifest/heal convergence)."""
    from char_ner_spark import lineage
    from char_ner_spark.incremental import (apply_dictionary_update,
                                            update_dictionary_state)
    from char_ner_spark.pipeline import build_dictionary_state

    out_dir = str(tmp_path_factory.mktemp("seq"))
    pages = make_pages(30, seed=7, alias_df=base_alias)
    lineage.run_partitioned(spark, spark.createDataFrame(pages), base_alias,
                            out_dir, n_parts=3, sinks=("triples",))
    before = lineage.read_triples(spark, out_dir).drop("part_id").toPandas()
    d1 = _linked_bridge_delta(base_alias, before)
    state0 = build_dictionary_state(spark, base_alias)
    state1, remap1 = update_dictionary_state(spark, state0, base_alias, d1)
    apply_dictionary_update(spark, out_dir, remap1)
    mid = lineage.read_triples(spark, out_dir).drop("part_id").toPandas()

    a1 = pd.concat([base_alias, d1], ignore_index=True)
    d2 = _linked_bridge_delta(a1, mid)
    state2, remap2 = update_dictionary_state(spark, state1, a1, d2)
    apply_dictionary_update(spark, out_dir, remap2)
    final = lineage.read_triples(spark, out_dir).drop("part_id").toPandas()

    # canon state after two increments == from-scratch over the full union
    want_canon = union_find_canonical(
        pd.concat([base_alias, d1, d2], ignore_index=True))
    assert _canon_dict(state2["canon"]) == want_canon

    # stored triples after two COW passes == one combined remap of the
    # original materialization
    from char_ner_spark.incremental import (incremental_canon,
                                            recanonicalize_triples)
    _, remap_combined = incremental_canon(
        spark, state0["canon"], base_alias,
        pd.concat([d1, d2], ignore_index=True))
    key = lambda pdf: set(
        map(tuple, pdf[["subj", "pred", "obj", "url", "sent_idx", "conf"]]
            .round({"conf": 6}).itertuples(index=False)))
    want = recanonicalize_triples(
        spark.createDataFrame(before), remap_combined).toPandas()
    assert key(final) == key(want)

    # resume on the twice-updated dir is still a no-op
    assert lineage.run_partitioned(
        spark, spark.createDataFrame(pages), base_alias, out_dir,
        n_parts=3, sinks=("triples",)) == []


def test_stream_resume_after_cow_keeps_rewrites(spark, base_alias,
                                                tmp_path_factory):
    """Resume the STREAM after a COW rewrite: the next micro-batch takes
    the checkpoint's next id, never touches the rewritten part (reserved
    range), and the final table is the union of rewritten old batches and
    the newly streamed one."""
    import os

    from char_ner_spark import lineage
    from char_ner_spark import streaming as ST
    from char_ner_spark.incremental import (_STREAM_REWRITE_PID_BASE,
                                            apply_dictionary_update,
                                            recanonicalize_triples,
                                            update_dictionary_state)
    from char_ner_spark.pipeline import build_dictionary_state

    d = str(tmp_path_factory.mktemp("stream_resume_cow"))
    src, out, ck = (os.path.join(d, n) for n in ("pages", "out", "ck"))
    pages = make_pages(40, seed=29, alias_df=base_alias)
    spark.createDataFrame(pages.iloc[:20]).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    ST.stream_triples(spark, src, base_alias, out, ck)
    tbl = "stream_triples"
    before = lineage.read_table(spark, out, tbl).drop("batch_id").toPandas()
    delta = _linked_bridge_delta(base_alias, before)
    state = build_dictionary_state(spark, base_alias)
    _, remap = update_dictionary_state(spark, state, base_alias, delta)
    stats = apply_dictionary_update(spark, out, remap)
    rewritten = stats[tbl]["rewritten"]
    assert rewritten and all(n >= _STREAM_REWRITE_PID_BASE
                             for _, n in rewritten)
    after_cow = lineage.read_table(spark, out, tbl).drop(
        "batch_id").toPandas()

    # new crawl slice arrives; the SAME checkpoint resumes the stream
    spark.createDataFrame(pages.iloc[20:]).coalesce(1) \
        .write.mode("append").parquet(src)
    ST.stream_triples(spark, src, base_alias, out, ck)

    key = lambda pdf: set(
        map(tuple, pdf[["subj", "pred", "obj", "url", "sent_idx", "conf"]]
            .round({"conf": 6}).itertuples(index=False)))
    final = lineage.read_table(spark, out, tbl)
    final_pdf = final.drop("batch_id").toPandas()
    # rewritten parts still on disk and referenced
    for _, new_pid in rewritten:
        assert os.path.isdir(os.path.join(out, f"batch_id={new_pid}"))
    # final = COW-rewritten old content ∪ newly streamed batch (which the
    # resumed checkpoint numbered BELOW the reserved range)
    new_ids = {int(r.batch_id)
               for r in final.select("batch_id").distinct().collect()}
    assert any(i < _STREAM_REWRITE_PID_BASE for i in new_ids)
    assert key(after_cow) < key(final_pdf)
    assert len(final_pdf) == len(key(final_pdf))  # no duplicates
