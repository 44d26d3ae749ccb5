"""Crash-boundary matrix for the index commit protocol (indexer._swap_dir).

Every whole-table swap of ``append_index`` and ``compact_index`` is
interrupted on entry and after each step inside it (staged write, live dir
moved aside, staging renamed in, aside copy dropped). After the crash:

- the stats check raises exactly when the terms swap completed but
  meta.json was not rewritten;
- the documented repair — ``build_index(full_corpus, resume=True)`` for
  append, re-running ``compact_index`` for compaction — yields an index
  whose top-k on both query tiers equals a fresh build, and a clean fsck.

A ``build_index(resume=False)`` over an existing index, crashed between
its docs write and the docs manifests, is repaired the same way.
"""

import os
import shutil

import numpy as np
import pytest

from koncorde_spark.fulltext import fs
from koncorde_spark.fulltext import indexer as ix
from koncorde_spark.fulltext.fsck import fsck_index
from koncorde_spark.fulltext.query import Bm25Index
from koncorde_spark.fulltext.serve import LocalSearcher
from koncorde_spark.sources import synthetic_corpus_pandas

pytestmark = pytest.mark.spark

CFG = ix.IndexConfig(n_shards=2)
QUERIES = ("import return def", "ident_00007 class")
# fs-level events of one swap of an existing table, in order; crashing at
# event k means the k events before it ran
STEPS = ("entry", "staged", "aside", "swapped", "aside_dropped")
APPEND_SWAPS = ("dlpack", "terms")
COMPACT_SWAPS = ("docs", "dlpack", "postings", "terms")


class Crash(Exception):
    pass


@pytest.fixture(scope="module")
def corpora():
    full = synthetic_corpus_pandas(n_rows=90, seed=21)
    base, extra = full.iloc[:60], full.iloc[60:]
    ids = [ix.doc_id_of(r, p, c) for r, p, c in zip(full.repo, full.path, full.commit)]
    deleted = ids[::7]
    survivors = full[[i not in set(deleted) for i in ids]]
    return base, extra, full, deleted, survivors


def _build(spark, pdf, out):
    ix.build_index(spark, spark.createDataFrame(pdf).repartition(2), out, CFG, resume=False)
    return out


def _fresh_topk(spark, pdf, out):
    """Top-k of every query on a fresh build of ``pdf``."""
    idx = Bm25Index(spark, _build(spark, pdf, out))
    try:
        return {q: idx.topk(q, 10).toPandas() for q in QUERIES}
    finally:
        idx.close()


@pytest.fixture(scope="module")
def append_setup(spark, corpora, tmp_path_factory):
    base, extra, full, _, _ = corpora
    root = tmp_path_factory.mktemp("crash_append")
    return (
        _build(spark, base, str(root / "base")),
        _fresh_topk(spark, full, str(root / "ref")),
    )


@pytest.fixture(scope="module")
def compact_setup(spark, corpora, tmp_path_factory):
    base, extra, _, deleted, survivors = corpora
    root = tmp_path_factory.mktemp("crash_compact")
    d = _build(spark, base, str(root / "base"))
    ix.append_index(spark, spark.createDataFrame(extra), d)
    ix.delete_docs(spark, d, deleted)
    return d, _fresh_topk(spark, survivors, str(root / "ref"))


def _crash_swap(monkeypatch, spark, call_no, step):
    """Make the ``call_no``-th _swap_dir call raise Crash at ``step``."""
    real_swap = ix._swap_dir
    state = {"calls": 0, "events": None}

    def event(fn):
        def wrapped(*a, **kw):
            if state["events"] is not None:
                if state["events"] == STEPS.index(step):
                    raise Crash(step)
                state["events"] += 1
            return fn(*a, **kw)

        return wrapped

    def swap(*a, **kw):
        state["calls"] += 1
        if state["calls"] != call_no:
            return real_swap(*a, **kw)
        state["events"] = 0
        try:
            return real_swap(*a, **kw)
        finally:
            state["events"] = None

    monkeypatch.setattr(fs, "delete", event(fs.delete))
    monkeypatch.setattr(fs, "rename", event(fs.rename))
    monkeypatch.setattr(spark.catalog, "refreshByPath", event(spark.catalog.refreshByPath))
    monkeypatch.setattr(ix, "_swap_dir", swap)


def _assert_recovered(spark, d, fresh):
    idx = Bm25Index(spark, d)
    local = LocalSearcher(d)
    try:
        for q, want in fresh.items():
            got = idx.topk(q, 10).toPandas()
            assert list(got["doc_id"]) == list(want["doc_id"]), q
            assert np.allclose(got["score"], want["score"], atol=1e-12), q
            hits = local.topk(q, 10)
            assert [i for i, _ in hits] == list(want["doc_id"]), q
            assert np.allclose([s for _, s in hits], want["score"], atol=1e-12), q
    finally:
        idx.close()
    report = fsck_index(spark, d)
    assert report["ok"], report
    assert not [n for n in os.listdir(d) if n.endswith(ix._ASIDE)]


def _stats_check_raises(d):
    try:
        ix.check_stats_consistency(d, ix.read_meta(d))
    except RuntimeError:
        return True
    return False


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("table", APPEND_SWAPS)
def test_append_crash_repaired_by_resumed_build(
    spark, monkeypatch, corpora, append_setup, tmp_path, table, step
):
    _, extra, full, _, _ = corpora
    base, fresh = append_setup
    d = str(tmp_path / "idx")
    shutil.copytree(base, d)
    _crash_swap(monkeypatch, spark, APPEND_SWAPS.index(table) + 1, step)
    with pytest.raises(Crash):
        ix.append_index(spark, spark.createDataFrame(extra), d)
    monkeypatch.undo()
    assert _stats_check_raises(d) == (
        table == "terms" and step in ("swapped", "aside_dropped")
    )
    ix.build_index(spark, spark.createDataFrame(full), d, CFG, resume=True)
    _assert_recovered(spark, d, fresh)


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("table", COMPACT_SWAPS)
def test_compact_crash_repaired_by_rerun(
    spark, monkeypatch, compact_setup, tmp_path, table, step
):
    base, fresh = compact_setup
    d = str(tmp_path / "idx")
    shutil.copytree(base, d)
    _crash_swap(monkeypatch, spark, COMPACT_SWAPS.index(table) + 1, step)
    with pytest.raises(Crash):
        ix.compact_index(spark, d, n_term_buckets=2)
    monkeypatch.undo()
    assert _stats_check_raises(d) == (
        table == "terms" and step in ("swapped", "aside_dropped")
    )
    ix.compact_index(spark, d, n_term_buckets=2)
    assert not os.path.exists(os.path.join(d, "tombstones"))
    _assert_recovered(spark, d, fresh)



def test_rebuild_crash_before_docs_manifests_repaired_by_resume(
    spark, monkeypatch, corpora, append_setup, tmp_path
):
    """Rebuild an index of ``base`` from ``full`` with resume=False and
    crash right after the docs write: the old build's manifests must not
    vouch for the new docs rows when the build is resumed."""
    _, _, full, _, _ = corpora
    base, fresh = append_setup
    d = str(tmp_path / "idx")
    shutil.copytree(base, d)
    real_write = ix._write_manifests

    def crash_on_docs(out_dir, stage, *a, **kw):
        if stage == "docs":
            raise Crash("docs manifests")
        return real_write(out_dir, stage, *a, **kw)

    monkeypatch.setattr(ix, "_write_manifests", crash_on_docs)
    with pytest.raises(Crash):
        ix.build_index(spark, spark.createDataFrame(full), d, CFG, resume=False)
    monkeypatch.undo()
    ix.build_index(spark, spark.createDataFrame(full), d, CFG, resume=True)
    _assert_recovered(spark, d, fresh)
