"""Index integrity checker (fsck): verify an index's internal invariants.

Operational tooling for the 10^12-file regime: before trusting an index
that crossed a crash, a migration, or a by-hand copy, verify that its
redundant structures actually agree. Every check is a cheap aggregate
over index artifacts (no corpus access, no postings decode beyond
per-row metadata):

- stats-commit stamp: terms dir and meta.json from the same commit
- manifests: every shard 0..n_shards-1 covered for docs/dlpack/postings,
  manifest row counts equal to the parquet row counts they describe,
  and each shard's dlpack ``n`` equal to its docs row count
- corpus stats: docs rows == meta.n_docs, avg(docs.dl) == meta.avgdl,
  count(terms) == meta.n_terms
- df consistency: per term, sum of segment dfs in postings == terms.df
  (segments of a term are doc-disjoint, so entry counts add)
- tombstones: every RAW on-disk id resolves to a doc (checked with a
  full anti-join, not a sample; duplicates are legal — deletes are
  append-only and decode dedups)

Returns a report dict {check: {"ok": bool, "detail": str}} plus an "ok"
aggregate; raise_on_error=True turns any failure into IndexCorruption.
Tombstoned-but-not-compacted indexes PASS by design (stats are frozen
until rebuild — the Lucene rule this engine follows).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import fs
from .indexer import (
    IndexConfig,
    _read_manifests,
    read_meta,
    read_stats_version,
)


class IndexCorruption(RuntimeError):
    pass


def fsck_index(
    spark: SparkSession, index_dir: str, raise_on_error: bool = False
) -> dict:
    meta = read_meta(index_dir)
    checks: dict[str, dict] = {}

    def record(name: str, ok: bool, detail: str = "") -> None:
        checks[name] = {"ok": bool(ok), "detail": detail}

    # --- stats-commit stamp ------------------------------------------------
    tv, mv = read_stats_version(index_dir), meta.get("stats_version")
    record(
        "stats_stamp",
        tv is None or mv is None or tv == mv,
        f"terms={tv} meta={mv}",
    )

    # --- manifests cover every shard with matching row counts --------------
    config = IndexConfig.from_meta(meta)
    fp = config.fingerprint()
    n_shards = config.n_shards
    docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    postings = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(index_dir, "postings")
    )
    for stage, df in (("docs", docs), ("postings", postings)):
        man = _read_manifests(index_dir, stage, fp)
        missing = sorted(set(range(n_shards)) - set(man))
        if missing:
            record(f"manifest_{stage}", False, f"missing shards {missing}")
            continue
        actual = {
            int(r["shard"]): int(r["n"])
            for r in df.groupBy("shard").agg(F.count("*").alias("n")).collect()
        }
        bad = {
            s: (m.get("rows"), actual.get(s, 0))
            for s, m in man.items()
            if "rows" in m and int(m["rows"]) != actual.get(s, 0)
        }
        record(
            f"manifest_{stage}",
            not bad,
            f"row mismatches {bad}" if bad else f"{n_shards} shards",
        )

    # --- dlpack: manifest coverage + per-shard pack count matches docs ------
    dlpack = spark.read.parquet(os.path.join(index_dir, "dlpack"))
    dl_man = _read_manifests(index_dir, "dlpack", fp)
    dl_missing = sorted(set(range(n_shards)) - set(dl_man))
    if dl_missing:
        record("manifest_dlpack", False, f"missing shards {dl_missing}")
    else:
        docs_per_shard = {
            int(r["shard"]): int(r["n"])
            for r in docs.groupBy("shard").agg(F.count("*").alias("n")).collect()
        }
        pack_rows = [
            (int(r["shard"]), int(r["n"]))
            for r in dlpack.select("shard", "n").collect()
        ]
        # a shard owning MORE than one dlpack row is the classic crashed
        # swap (queries on it raise at decode) — a dict keyed by shard
        # would silently keep one row and mask it, so count first
        from collections import Counter

        dup_shards = sorted(
            s for s, c in Counter(s for s, _ in pack_rows).items() if c > 1
        )
        pack_n = dict(pack_rows)
        # every shard with docs needs exactly its doc count packed
        bad = {
            s: (nd, pack_n.get(s))
            for s, nd in docs_per_shard.items()
            if pack_n.get(s) != nd
        }
        record(
            "manifest_dlpack",
            not bad and not dup_shards,
            (
                f"duplicate pack rows for shards {dup_shards}; "
                if dup_shards
                else ""
            )
            + (f"pack/doc count mismatches {bad}" if bad else f"{n_shards} shards"),
        )

    # --- corpus statistics agree with meta ---------------------------------
    stats = docs.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    record(
        "n_docs",
        int(stats["n"]) == int(meta["n_docs"]),
        f"docs={int(stats['n'])} meta={int(meta['n_docs'])}",
    )
    record(
        "avgdl",
        abs(float(stats["avgdl"]) - float(meta["avgdl"])) < 1e-6,
        f"docs={float(stats['avgdl']):.6f} meta={float(meta['avgdl']):.6f}",
    )
    terms = spark.read.parquet(os.path.join(index_dir, "terms"))
    if "n_terms" in meta:
        n_terms = terms.count()
        record(
            "n_terms",
            n_terms == int(meta["n_terms"]),
            f"terms={n_terms} meta={int(meta['n_terms'])}",
        )

    # --- df consistency: postings segment dfs sum to terms.df ---------------
    seg_df = postings.groupBy("term").agg(F.sum("df").alias("seg_df"))
    joined = terms.join(seg_df, "term", "full_outer").where(
        F.coalesce("df", F.lit(-1)) != F.coalesce("seg_df", F.lit(-1))
    )
    bad_terms = joined.limit(5).collect()
    record(
        "df_consistency",
        not bad_terms,
        "; ".join(
            f"{r['term']}: terms={r['df']} postings={r['seg_df']}"
            for r in bad_terms
        ),
    )

    # --- tombstones: every RAW on-disk id resolves to a doc ------------------
    # read the parquet directly: read_tombstones normalizes (unique+sort)
    # on load, so checking its output would be vacuous — the on-disk state
    # is what fsck verifies. Duplicates are legal (delete_docs is
    # append-only; decode dedups), unknown ids are not. The resolve check
    # is a distributed anti-join, so it covers the FULL set at any size.
    tomb_path = os.path.join(index_dir, "tombstones")
    if fs.exists(tomb_path):
        raw = spark.read.parquet(tomb_path).select("doc_id")
        n_raw = raw.count()
        unknown = raw.distinct().join(
            docs.select("doc_id"), "doc_id", "left_anti"
        )
        n_unknown = unknown.count()
        record(
            "tombstones",
            n_unknown == 0,
            f"{n_raw} tombstone rows, {n_unknown} unresolvable in docs",
        )
    else:
        record("tombstones", True, "none")

    ok = all(c["ok"] for c in checks.values())
    report = {"ok": ok, "index_dir": index_dir, "checks": checks}
    if raise_on_error and not ok:
        bad = {k: v for k, v in checks.items() if not v["ok"]}
        raise IndexCorruption(f"index {index_dir} failed fsck: {bad}")
    return report


def index_stats(spark: SparkSession, index_dir: str, top_terms: int = 10) -> dict:
    """Read-only operational summary of an index: corpus stats from
    meta, per-component parquet sizes (bytes, files), segment-count
    distribution (how fragmented the postings are — the compaction
    signal), hottest terms by df, and the tombstone fraction. Aggregates
    only; no postings decode. Sizes go through fs.du, so scheme-carrying
    index dirs (file:// s3a:// hdfs://) report real bytes."""
    meta = read_meta(index_dir)
    out: dict = {
        "index_dir": index_dir,
        "n_docs": int(meta["n_docs"]),
        "n_terms": int(meta.get("n_terms", -1)),
        "avgdl": float(meta["avgdl"]),
        "n_shards": int(meta["n_shards"]),
        "positions": bool(meta.get("positions", False)),
    }
    sizes = {}
    for comp in ("docs", "postings", "terms", "dlpack"):
        n_bytes, n_files = fs.du(os.path.join(index_dir, comp))
        sizes[comp] = {"bytes": n_bytes, "files": n_files}
    out["sizes"] = sizes
    postings = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(index_dir, "postings")
    )
    # fragmentation = segment rows per (term, shard): a fresh build has
    # exactly 1 everywhere; each append/salt generation adds one — the
    # distribution IS the compaction signal
    seg = (
        postings.groupBy("term", "shard")
        .agg(F.count("*").alias("segs"))
        .groupBy("segs")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("segs")
        .collect()
    )
    out["segments_per_term_shard"] = {
        int(r["segs"]): int(r["n_pairs"]) for r in seg
    }
    terms = spark.read.parquet(os.path.join(index_dir, "terms"))
    out["hottest_terms"] = [
        {"term": r["term"], "df": int(r["df"])}
        for r in terms.orderBy(F.desc("df"), F.asc("term")).limit(top_terms).collect()
    ]
    tomb_path = os.path.join(index_dir, "tombstones")
    n_tomb = (
        spark.read.parquet(tomb_path).select("doc_id").distinct().count()
        if fs.exists(tomb_path)
        else 0
    )
    out["tombstones"] = n_tomb
    out["tombstone_fraction"] = (
        round(n_tomb / out["n_docs"], 6) if out["n_docs"] else 0.0
    )
    return out
