"""Resumable, checkpointed index build with per-partition lineage+metrics.

Re-creates the reference's memoization/resume machinery — the on-disk
`count_history` TSV and in-memory probe caches that let its grid searches
restart without re-running probes (optParams/wsdm12-improved-NThrsh-
coordAsc.ipynb:240-260 load, cell 13 dedup guards ~556-560) and the
repository merge (occuranceCount.cpp:700-708) — as stage-level parquet
checkpoints plus BUCKET-level resume for the expensive blocked-postings
stage, per the north_rule ("resumable from checkpoint with per-partition
lineage + metrics").

Layout under ``out_dir``:
    stats.json                   — n_docs, avgdl, build params
    docmap/ doc_len/ vocab/      — stage checkpoints (parquet)
    postings_flat/               — parquet partitioned by bucket=NN
    postings/                    — blocked+compressed, partitioned by bucket=NN
    manifest.json                — stages done + buckets done (postings)
    build_metrics/               — lineage: one row per (stage, table,
                                   partition) with rows, wall_ms, ts

Every table reaches disk through ``publish``: a Spark write into
``<table>.compact.tmp``, then a driver-side swap. Lineage is read from
the footers of the files just written, so it costs no Spark job: a row's
``partition_id`` is the ``bucket=NN`` value of a term-bucketed table,
else the write task's part number; ``rows`` is that partition's row
count (zero-row files give no row); ``wall_ms`` is the wall time of the
whole write; ``ts`` is when the row was logged. Each logging call adds
one uniquely named parquet file.

Resume: a stage listed in the manifest is loaded, not rebuilt; for the
blocked-postings stage only the MISSING buckets are encoded and appended
(term-hash bucketing makes buckets disjoint, so append is safe), which is
exactly the segment-merge restart the reference's repository merge
implies. At cluster scale the same manifest lives next to the Iceberg
table and buckets map 1:1 to term-hash partitions.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .build import (
    IndexTables,
    build_blocked_postings,
    build_index_from_docs,
)
from .codec import BLOCK_FORMAT
from .xxh64 import term_bucket_col

NUM_BUCKETS = 64
STAGED = ".compact.tmp"
_LINEAGE = pa.schema([
    ("stage", pa.string()), ("table", pa.string()),
    ("partition_id", pa.int32()), ("rows", pa.int64()),
    ("wall_ms", pa.float64()), ("ts", pa.float64()),
])


def write_json(path: str, obj) -> None:
    """Atomic JSON write: a reader sees the old file or the new one."""
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, sort_keys=True)
    os.replace(path + ".tmp", path)


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest.json")


def _load_manifest(out_dir: str) -> dict:
    p = _manifest_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"stages": [], "buckets_done": []}


def _footer_rows(root: str, wall_ms: float) -> list:
    """(table, partition_id, rows, wall_ms) per partition of the parquet
    files under ``root``, counted from their footers alone."""
    per: dict = {}
    for d, _, files in os.walk(root):
        part = os.path.basename(d)
        for fn in files:
            if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
                continue
            n = pq.read_metadata(os.path.join(d, fn)).num_rows
            if n:
                # part-00003-<uuid>-c000.snappy.parquet -> task 3
                pid = (int(part.split("=", 1)[1]) if part.startswith("bucket=")
                       else int(fn.split("-")[1]))
                per[pid] = per.get(pid, 0) + n
    table = os.path.basename(root).removesuffix(STAGED)
    return [(table, pid, n, wall_ms) for pid, n in sorted(per.items())]


def _stage(df: DataFrame, path: str, partition_by: str | None) -> list:
    """Write ``df`` to ``<path>.compact.tmp``; return its lineage."""
    t0 = time.perf_counter()
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path + STAGED)
    return _footer_rows(path + STAGED, (time.perf_counter() - t0) * 1000)


def _swap(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.replace(path + STAGED, path)


def publish(df: DataFrame, path: str, partition_by: str | None = None) -> list:
    """Write ``df`` as the parquet table at ``path`` via a staged copy
    that is swapped in once complete. Returns one lineage row
    (table, partition_id, rows, wall_ms) per written partition. A crash
    inside the swap leaves the table missing beside its staged copy,
    which ``restore_staged`` moves in."""
    lineage = _stage(df, path, partition_by)
    _swap(path)
    return lineage


def restore_staged(out_dir: str) -> None:
    """Finish the swap of any table or ``bucket=NN`` dir that a crash
    left missing beside its complete staged copy. Complete means
    Spark's job-commit marker ``_SUCCESS`` is present: a write that died
    mid-job is never moved in."""
    for name in os.listdir(out_dir):
        staged = os.path.join(out_dir, name)
        if not name.endswith(STAGED) or not os.path.exists(
            os.path.join(staged, "_SUCCESS")
        ):
            continue
        dst = staged.removesuffix(STAGED)
        if not os.path.isdir(dst):
            os.replace(staged, dst)
            continue
        for part in os.listdir(staged):
            if part.startswith("bucket=") and not os.path.isdir(
                os.path.join(dst, part)
            ):
                os.replace(os.path.join(staged, part), os.path.join(dst, part))


def log_lineage(out_dir: str, stage: str, lineage: list) -> None:
    """Append ``lineage`` rows of ``stage`` to ``build_metrics/`` as one
    new, uniquely named parquet file (driver-side, no Spark job)."""
    if not lineage:
        return
    d = os.path.join(out_dir, "build_metrics")
    os.makedirs(d, exist_ok=True)
    table, pid, rows, wall_ms = map(list, zip(*lineage))
    t = pa.Table.from_pydict({
        "stage": [stage] * len(rows), "table": table, "partition_id": pid,
        "rows": rows, "wall_ms": wall_ms, "ts": [time.time()] * len(rows),
    }, schema=_LINEAGE)
    name = f"part-{uuid.uuid4().hex}.parquet"
    pq.write_table(t, os.path.join(d, "." + name))   # hidden until whole
    os.replace(os.path.join(d, "." + name), os.path.join(d, name))


def build_index_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    salt_ranges: int = 8,
    num_buckets: int = NUM_BUCKETS,
    with_positions: bool = False,
    with_doc_vectors: bool = False,
    with_docs: bool = False,
    codec: str = "varint",
) -> IndexTables:
    """docs(doc_id, text) -> IndexTables, all stages checkpointed under
    ``out_dir``; safe to re-invoke after a crash — finished stages and
    finished postings buckets are never recomputed.

    ``with_positions`` additionally persists the positional postings
    (term, doc_id, positions) as a bucketed stage — Indri keeps
    positions in its inverted file (occuranceCount.cpp:310-351); with
    this stage #odN/#uwN phrase queries run off the STORED index instead
    of re-tokenizing the corpus.

    ``with_doc_vectors`` persists the FORWARD index (doc_id, term, tf,
    dl) sorted by doc_id — Indri's stored document vectors (`dumpindex
    dv`, occuranceCount.cpp:631-663). The serving tier's PRF reads the
    feedback docs' vectors through parquet row-group doc_id pruning."""
    os.makedirs(out_dir, exist_ok=True)
    man = _load_manifest(out_dir)
    # The four post-`flat` stages run CONCURRENTLY on threads (they are
    # mutually independent Spark jobs); manifest mutations are
    # serialized behind this lock so resume bookkeeping stays atomic.
    man_lock = threading.Lock()

    def path(name: str) -> str:
        return os.path.join(out_dir, name)

    def stage_done(name: str) -> bool:
        with man_lock:
            return name in man["stages"]

    def mark_stage(name: str, lineage: list) -> None:
        log_lineage(out_dir, name, lineage)
        with man_lock:
            if name not in man["stages"]:
                man["stages"].append(name)
                write_json(_manifest_path(out_dir), man)

    if not stage_done("flat"):
        t0 = time.perf_counter()
        idx = build_index_from_docs(docs)
        lineage = publish(
            idx.postings_flat.withColumn("bucket", term_bucket_col(num_buckets)),
            path("postings_flat"), "bucket",
        )
        # publish docmap sorted by doc_id: the serving tier's reverse
        # lookup (LocalSearcher.urls_for) filters on doc_id, and sorted
        # row-groups let parquet min/max stats prune the scan
        lineage += publish(idx.docmap.sort("doc_id"), path("docmap"))
        # doc_len sorted too: the serving tier's live-mode init fetches
        # the tombstoned ids' dls through the same row-group pruning
        lineage += publish(idx.doc_len.sort("doc_id"), path("doc_len"))
        lineage += publish(idx.vocab, path("vocab"))
        write_json(path("stats.json"), {
            "n_docs": idx.n_docs,
            "avgdl": idx.avgdl,
            "salt_ranges": salt_ranges,
            "num_buckets": num_buckets,
            "block_format": BLOCK_FORMAT,
            "build_wall_s": time.perf_counter() - t0,
        })
        mark_stage("flat", lineage)

    with open(path("stats.json")) as f:
        stats = json.load(f)
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]

    flat = spark.read.parquet(path("postings_flat"))
    postings_path = path("postings")

    def _stage_blocked() -> None:
        with man_lock:
            done = set(man["buckets_done"])
        todo = sorted(set(range(num_buckets)) - done)
        lineage = []
        if todo:
            # Crash window: a previous run may have committed bucket=NN
            # dirs on disk but died before recording them in the manifest.
            # Re-appending would duplicate every posting row in those
            # buckets (inflating df/cf and corrupting WAND reads), so any
            # on-disk bucket not marked done is stale output — drop it
            # before rebuilding.
            for b in todo:
                stale = os.path.join(postings_path, f"bucket={b}")
                if os.path.exists(stale):
                    shutil.rmtree(stale)
            remaining = flat.filter(F.col("bucket").isin(todo)).drop("bucket")
            t0 = time.perf_counter()
            blocked = build_blocked_postings(
                remaining, n_docs, avgdl, salt_ranges=salt_ranges,
                num_buckets=num_buckets, codec=codec,
            )
            blocked.write.mode("append").partitionBy("bucket").parquet(
                postings_path
            )
            lineage = [
                r for r in _footer_rows(
                    postings_path, (time.perf_counter() - t0) * 1000
                ) if r[1] in todo
            ]
            with man_lock:
                man["buckets_done"] = sorted(
                    set(man["buckets_done"]) | set(todo)
                )
                write_json(_manifest_path(out_dir), man)
        mark_stage("blocked", lineage)

    def _stage_doc_vectors() -> None:
        # forward index, ONE global doc_id sort so the serving tier's
        # fb-doc fetch prunes row groups (same publish-time-sort policy
        # as the docmap); range-partitioned on doc_id by the sort, so at
        # cluster scale each output file covers a contiguous doc span
        mark_stage("doc_vectors", publish(
            flat.select("doc_id", "term", "tf", "dl").sort("doc_id", "term"),
            path("doc_vectors"),
        ))

    def _stage_docs() -> None:
        # stored document table — Indri's CompressedCollection (parquet
        # columns are already compressed), backing `dumpindex dt/dd/dcsv`
        # (occuranceCount.cpp:516-523, :551-593, :595-630). Sorted by
        # doc_id so point fetches prune row groups, same policy as docmap.
        mark_stage("docs", publish(docs.sort("doc_id"), path("docs")))

    def _stage_positional() -> None:
        from ..functions.text import tokenize_col
        from .positions import build_positional_postings

        doc_terms = docs.select(
            "doc_id", tokenize_col(F.col("text")).alias("tokens")
        )
        pos = build_positional_postings(doc_terms).withColumn(
            "bucket", term_bucket_col(num_buckets)
        )
        mark_stage("positional",
                   publish(pos, path("positional"), "bucket"))

    # Everything after `flat` is an independent Spark job chain over
    # either the flat checkpoint or the raw docs — run the pending ones
    # concurrently so a cluster's executors stay busy through each
    # stage's scheduling/commit tail instead of idling between four
    # serial jobs. Resume semantics are unchanged: each stage still
    # marks itself in the manifest only after its own writes commit.
    pending = []
    if not stage_done("blocked"):
        pending.append(_stage_blocked)
    if with_doc_vectors and not stage_done("doc_vectors"):
        pending.append(_stage_doc_vectors)
    if with_docs and not stage_done("docs"):
        pending.append(_stage_docs)
    if with_positions and not stage_done("positional"):
        pending.append(_stage_positional)
    if len(pending) == 1:
        pending[0]()
    elif pending:
        with ThreadPoolExecutor(max_workers=len(pending)) as pool:
            futures = [pool.submit(fn) for fn in pending]
            for fut in futures:
                fut.result()   # propagate the first stage failure

    return load_index(spark, out_dir)


def validate_index_dir(out_dir: str) -> dict:
    """Shared consistency gate for every reader of an on-disk index
    (Spark ``load_index`` and the serving-tier ``LocalSearcher``):
    refuses torn compacts and unreadable block formats, returns stats.
    """
    if os.path.exists(os.path.join(out_dir, "_COMPACTING")):
        # a compact crashed (or is running) somewhere between its first
        # rewrite and its final commit — flat/doc/vocab/stats/blocked
        # may disagree about deleted docs; every compact step is
        # idempotent, so the repair is to re-run it
        raise ValueError(
            f"index at {out_dir} has an unfinished compact "
            "(_COMPACTING sentinel present); re-run compact_index to "
            "bring it to a consistent state."
        )
    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    got = stats.get("block_format", 1)
    if got != BLOCK_FORMAT:
        # format 1 (pre-tag) buffers are indistinguishable from payload
        # bytes — refuse loudly rather than risk a silent misdecode
        raise ValueError(
            f"index at {out_dir} has posting block_format={got}; this "
            f"reader needs {BLOCK_FORMAT} (tagged varint/pfor buffers). "
            "Migrate in place by running compact_index with THIS version "
            "(it re-encodes from the flat postings without reading old "
            "blocked buffers), or rebuild."
        )
    # torn-compact detection: compact stamps the re-encoded blocked dir
    # (_GENERATION marker) and stats.json with one shared generation id;
    # block max_score embeds n_docs/avgdl, so a crash between the two
    # writes would pair stats with bounds computed under DIFFERENT stats
    # and make WAND pruning unsound. None == None for never-compacted
    # indexes.
    gen_file = os.path.join(out_dir, "postings", "_GENERATION")
    gen_on_disk = None
    if os.path.exists(gen_file):
        with open(gen_file) as f:
            gen_on_disk = f.read().strip()
    if stats.get("generation") != gen_on_disk:
        raise ValueError(
            f"index at {out_dir} is torn mid-compact (stats generation "
            f"{stats.get('generation')!r} != blocked generation "
            f"{gen_on_disk!r}); re-run compact_index to repair."
        )
    return stats


def load_index(spark: SparkSession, out_dir: str) -> IndexTables:
    stats = validate_index_dir(out_dir)
    flat = spark.read.parquet(os.path.join(out_dir, "postings_flat")).drop("bucket")
    pos_path = os.path.join(out_dir, "positional")
    positional = (
        spark.read.parquet(pos_path).drop("bucket")
        if os.path.isdir(pos_path)
        else None
    )
    return IndexTables(
        docmap=spark.read.parquet(os.path.join(out_dir, "docmap")),
        doc_terms=None,
        doc_len=spark.read.parquet(os.path.join(out_dir, "doc_len")),
        vocab=spark.read.parquet(os.path.join(out_dir, "vocab")),
        postings_flat=flat,
        postings=spark.read.parquet(os.path.join(out_dir, "postings")),
        n_docs=stats["n_docs"],
        avgdl=stats["avgdl"],
        positional=positional,
    )


def invalidate_buckets(out_dir: str, buckets: list) -> None:
    """Testing/maintenance hook: mark buckets as not-done so the next
    build re-encodes them (simulates a mid-build crash)."""
    man = _load_manifest(out_dir)
    man["buckets_done"] = [b for b in man["buckets_done"] if b not in buckets]
    if "blocked" in man["stages"]:
        man["stages"].remove("blocked")
    for b in buckets:
        p = os.path.join(out_dir, "postings", f"bucket={b}")
        if os.path.isdir(p):
            shutil.rmtree(p)
    write_json(_manifest_path(out_dir), man)
