"""Per-stage checkpointing with write-time metrics and mid-run resume.

The Spark analogue of the reference's make-timestamp DAG (makefile:33-152)
and its append-only label caches (pre_screen_names.R:220-228,
match_addresses.R:151-175), upgraded per the north rule:

- every stage writes its output as plain parquet under ``<root>/<stage>/``
  plus a manifest line with an **input fingerprint** (hash of upstream
  stage fingerprints + parameters — the content-addressed version of
  make's timestamps); nothing is registered in the session catalog, so a
  later job reads a stage with ``spark.read.parquet(<root>/<stage>)``;
- the stage's metrics come back with its one write and live in that
  manifest line: a 10-bin histogram per score column, observed by the write
  job itself (``DataFrame.observe``), and per-file row counts read from the
  committed parquet footers on the driver (no Spark job);
- a re-run calls the same ``stage(...)`` sequence; any stage whose
  fingerprint matches the manifest is **skipped** (output read back from
  parquet), so a killed run resumes at the first stage whose inputs
  changed — deterministically, because every upstream stage is seeded.

In production the parquet directory is an Iceberg table and the manifest a
snapshot property; the sandbox uses plain parquet + a JSON-lines manifest.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def fingerprint(*parts: object) -> str:
    """Stable hash of stage parameters / upstream fingerprints."""
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
        h.update(b"\x1f")
    return h.hexdigest()[:20]


def df_fingerprint(df: DataFrame | None) -> str:
    """Content fingerprint of a (small) side-input table: row count, an
    order-insensitive xor of row hashes, AND a multiplicity-sensitive
    mod-prime sum of the same hashes. One aggregate job — used so that
    e.g. changed training labels correctly invalidate downstream stages.

    The sum term exists because xor alone cancels on duplicate-row
    multiplicity ({A, A, B} and {B, B, B} share count=3 and xor=B); the
    bounded summands (< 2²⁰ each) keep the bigint sum overflow-free to
    ~10¹² rows — far beyond any side-input this guards."""
    if df is None:
        return "none"
    cols = ", ".join(df.columns)
    row = df.agg(
        F.count("*").alias("c"),
        F.coalesce(F.expr(f"bit_xor(xxhash64({cols}))"), F.lit(0)).alias("h"),
        F.coalesce(F.expr(f"sum(pmod(xxhash64({cols}), 1000003))"), F.lit(0)).alias("s"),
    ).collect()[0]
    return f"{row['c']}:{row['h']}:{row['s']}"


@dataclass
class StageResult:
    name: str
    df: DataFrame
    fingerprint: str
    skipped: bool
    rows: int
    wall_ms: float
    files: dict[str, int] = field(default_factory=dict)  # file name -> rows
    hist: dict[str, list[int]] = field(default_factory=dict)  # score -> bins 0..9


@dataclass
class CheckpointManager:
    root: str
    spark: SparkSession
    results: dict[str, StageResult] = field(default_factory=dict)

    def __post_init__(self) -> None:
        # the manifest, the _FINGERPRINT markers and the footer reads go
        # through the local filesystem, so a URI root (s3://, file://)
        # would get its data written by Spark and then fail on its first
        # marker: refuse it before any Spark job runs
        if re.match(r"[A-Za-z][A-Za-z0-9+.-]+:", self.root):
            raise ValueError(
                f"checkpoint root {self.root!r} is a URI; give a local or "
                "mounted filesystem path"
            )

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.jsonl")

    def _load_manifest(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        path = self._manifest_path()
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        e = json.loads(line)
                        out[e["stage"]] = e  # later lines win
        return out

    def _append_manifest(self, entry: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        with open(self._manifest_path(), "a") as f:
            f.write(json.dumps(entry) + "\n")

    def stage(
        self,
        name: str,
        fn: Callable[[], DataFrame],
        *,
        depends_on: list[str] | None = None,
        params: object = None,
        score_cols: list[str] | None = None,
    ) -> DataFrame:
        """Run ``fn`` (or load its checkpoint) as stage ``name``.

        The stage fingerprint chains the fingerprints of ``depends_on``
        stages with ``params``; a manifest hit with the same fingerprint,
        an intact _SUCCESS marker, AND a matching in-directory _FINGERPRINT
        file short-circuits to a parquet read. The _FINGERPRINT file is
        written LAST in the stage commit, so a run that overwrote the data
        but crashed before committing can never be served as a cache hit
        for a fingerprint the data does not actually carry (the manifest
        alone cannot guarantee that — it describes the PREVIOUS completed
        write, not whatever is on disk now).
        """
        dep_fps = [self.results[d].fingerprint for d in (depends_on or [])]
        fp = fingerprint(name, params, *dep_fps)
        out_dir = os.path.join(self.root, name)
        manifest = self._load_manifest()
        entry = manifest.get(name)
        success = os.path.join(out_dir, "_SUCCESS")
        fp_file = os.path.join(out_dir, "_FINGERPRINT")
        disk_fp = None
        if os.path.exists(fp_file):
            with open(fp_file) as f:
                disk_fp = f.read().strip()
        if (
            entry
            and entry["fingerprint"] == fp
            and os.path.exists(success)
            and disk_fp == fp
        ):
            df = self.spark.read.parquet(out_dir)
            res = StageResult(
                name, df, fp, True, entry["rows"], 0.0,
                entry.get("files", {}), entry.get("hist", {}),
            )
            self.results[name] = res
            return df

        t0 = time.time()
        df = fn()
        # the score histograms ride the write: the write job itself counts
        # the bins; a null score falls in no bin
        cols = [c for c in score_cols or [] if c in df.columns]
        obs = Observation()
        if cols:
            bins = {
                c: F.least(F.floor(F.col(c).cast("double") * 10), F.lit(9)) for c in cols
            }
            df = df.observe(obs, *[
                F.count_if(F.col(c).isNotNull() & (bins[c] == b)).alias(f"{c}#{b}")
                for c in cols for b in range(10)
            ])
        df.write.mode("overwrite").parquet(out_dir)
        # the schema is known: reading it back infers nothing (no job)
        out = self.spark.read.schema(df.schema).parquet(out_dir)
        wall_ms = (time.time() - t0) * 1000

        # per-file row counts from the committed footers, read on the
        # driver: exactly what is on disk, even after a task retry
        files = {
            os.path.basename(p): pq.read_metadata(p).num_rows
            for p in sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        }
        rows = sum(files.values())
        # an empty write may never run the observed plan: an empty output's
        # histogram is all zeros without asking for it
        got = obs.get if cols and rows else {}
        hist = {c: [got.get(f"{c}#{b}", 0) for b in range(10)] for c in cols}

        # the stage commit point: the data is on disk; the _FINGERPRINT file
        # makes the directory self-describing (see docstring) and the
        # manifest line, which carries the metrics, makes the hit findable
        with open(fp_file, "w") as f:
            f.write(fp)
        mentry = {
            "stage": name,
            "fingerprint": fp,
            "rows": rows,
            "files": files,
            "hist": hist,
            "wall_ms": round(wall_ms, 1),
            "created_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._append_manifest(mentry)
        res = StageResult(name, out, fp, False, rows, wall_ms, files, hist)
        self.results[name] = res
        return out


def resolve_entities_checkpointed(
    documents: DataFrame,
    ckpt_dir: str,
    addresses: DataFrame | None = None,
    labels: DataFrame | None = None,
    num_trees: int = 100,
    auto_accept: bool = True,
    corpus_fingerprint: object = None,
):
    """The resolve driver: documents(doc_id, spans) → entity clusters, as
    the reference makefile DAG (makefile:33-152) staged through one
    CheckpointManager — kill it after any stage and a re-run resumes from
    the next one. Returns ``(mgr, clusters)``; each stage's output is
    ``mgr.results[stage].df``.

    ``corpus_fingerprint`` identifies the input data (e.g. a snapshot id or
    path+mtime); it seeds the first stage's fingerprint chain.
    """
    from .operators.address import match_addresses
    from .operators.cc import name_clusters
    from .operators.extract import extract_names
    from .operators.prescreen import pre_screen
    from .pipeline import match_names

    spark = documents.sparkSession
    mgr = CheckpointManager(ckpt_dir, spark)

    names = mgr.stage(
        "extract_names",
        lambda: extract_names(documents),
        params=("v1", corpus_fingerprint),
    )
    _mn_results: list = []

    def _build_master() -> DataFrame:
        res = match_names(names.select("name"))
        _mn_results.append(res)
        return res.master

    master = mgr.stage(
        "match_names",
        _build_master,
        depends_on=["extract_names"],
        params=[],
        score_cols=["cosine_similarity", "jw_distance", "token_sim"],
    )
    addr_pairs = (
        mgr.stage(
            "match_addresses",
            lambda: match_addresses(addresses),
            params=("v1", corpus_fingerprint),
        )
        if addresses is not None
        else None
    )
    # a fresh match run hands its checkpointed parse to the cross-surname
    # screen; a resume that skipped match_names passes None (re-parse)
    name_parts = _mn_results[0].name_parts if _mn_results else None
    screened = mgr.stage(
        "pre_screen",
        lambda: pre_screen(
            master,
            addr_pairs,
            names,
            labeled_pairs=labels,
            num_trees=num_trees,
            auto_accept=auto_accept,
            name_parts=name_parts,
        ),
        depends_on=["match_names"]
        + (["match_addresses"] if addresses is not None else []),
        params=(num_trees, auto_accept, df_fingerprint(labels)),
        score_cols=["rf_prob", "importance_dist"],
    )
    clusters = mgr.stage(
        "cluster",
        lambda: name_clusters(screened),
        depends_on=["pre_screen"],
    )
    return mgr, clusters
