"""Versioned state stores: the only code that knows their on-disk
layouts, completeness markers and commit order.

Every state-backed operator persists parquet directories under a store
directory (``<state_dir>/<store>``, or an index path). There are three
layouts, each with ONE commit rule: data first, marker LAST, so a crash
anywhere leaves a dir without its marker, which no reader sees.

**Rewrite stores** (cluster labels, index stats, CDC snapshot, sample
reservoir, frequency and KLL sketches, drift counts, golden records,
bloom bitmap, pack cursors and assignments, ivm rollups)::

    v<k>        batch k's full rewrite of the state
    v<k>.e<n>   the n-th erasure cutover of batch k's state

A version is complete when ``_SUCCESS`` is present (Spark writes it at
job commit; an erase epoch's is written by :func:`erase_cutover` after
the data). Versions order by ``(k, n)``: readers take the newest
complete one below their batch id, and an erase epoch outranks its
source, so erasure is sticky and never consumes a batch id (a
checkpointed stream's next engine-assigned id stays valid).
:func:`commit_version` is the one commit of every rewrite store: its
replay guard rejects an id that would rewrite history before anything
is written, and a replay of batch k overwrites ``v<k>`` reading only
versions below k. A version reads back with the schema Spark wrote
into its footers, so with no inference job.

**Append stores** (dedup exact/bands/embedding_lsh/spans, index
postings, linkage variants/phonetic)::

    batch=<id>   one batch's append; a replay overwrites its own dir
    base_v<k>    a fold of older bases and appends, complete when
                 ``_COMPACTED`` is present

Readers union the newest complete base with every append. Rows carry
their ``batch`` column, so a fold is pure re-layout. :func:`fold`
writes ``base_v<k+1>``, marks it, then removes older bases and the
folded appends: a crash before the marker leaves an invisible partial
dir that the next fold overwrites; a crash after it leaves rows twice,
which every reader collapses.

**IVFPQ indexes** (functions/ivfpq.py)::

    list_id=<L>/ingest_batch=<b>   live cells
    _ibase_v<k>                    base whose ``_COMPACTED`` marker
                                   holds the watermark W

Readers take the newest complete base plus cells above W; cells at or
below W are folded, swept by :func:`sweep_cells`.

All I/O goes through pyarrow.fs (functions/util.py ``parquet_fs`` /
``list_fileinfos``), so every path may be local or a URI (``file://``,
``s3://``, ``gs://``, ``hdfs://``); returned paths keep the caller's
scheme so they can go straight to ``spark.read.parquet``.
"""

from __future__ import annotations

import os
import re

from pyarrow.fs import FileType

from ..functions.util import list_fileinfos, parquet_fs, read_parquet_state

SUCCESS = "_SUCCESS"
COMPACTED = "_COMPACTED"
_VERSION_RE = re.compile(r"^v(\d+)(?:\.e(\d+))?$")
_ALL = 2**62


# -- filesystem primitives --------------------------------------------


def _children(path: str):
    """``(fs, scheme, [FileInfo])`` of *path*'s children; a missing dir
    lists empty. FileInfo paths are scheme-less, so callers re-prefix
    *scheme* on the paths they return."""
    fs, infos = list_fileinfos(path)
    scheme = path.split("://", 1)[0] + "://" if "://" in path else ""
    return fs, scheme, infos


def _marked(fs, dirs: list[str], marker: str) -> list[bool]:
    """Which of *dirs* (scheme-less) carry *marker*: one batched probe
    (a single round trip on object stores)."""
    if not dirs:
        return []
    infos = fs.get_file_info([d + "/" + marker for d in dirs])
    return [i.type != FileType.NotFound for i in infos]


def exists(path: str) -> bool:
    fs, p = parquet_fs(path)
    return fs.get_file_info(p).type != FileType.NotFound


def remove(path: str) -> None:
    """Delete a directory tree; a missing one is not an error."""
    fs, p = parquet_fs(path)
    try:
        fs.delete_dir(p)
    except FileNotFoundError:
        pass


def _mark(path: str, marker: str, text: str = "") -> None:
    """Write *marker* into *path*: the commit step of every layout."""
    fs, p = parquet_fs(path)
    with fs.open_output_stream(p + "/" + marker) as f:
        f.write(text.encode())


def _write_then_mark(
    writer, path: str, marker: str, text: str = ""
) -> None:
    if marker == SUCCESS:
        # Spark would write _SUCCESS at job commit; suppressing it keeps
        # the marker the store's own last step
        writer = writer.option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        )
    writer.parquet(path)
    _mark(path, marker, text)


# -- rewrite stores: v<k>[.e<n>] + _SUCCESS ---------------------------


def version_path(subdir: str, batch_id: int) -> str:
    return os.path.join(subdir, f"v{int(batch_id)}")


def scan_versions(subdir: str) -> list[tuple[tuple[int, int], str]]:
    """Sorted ``((batch, erase_epoch), path)`` of the COMPLETE versions."""
    fs, scheme, infos = _children(subdir)
    cand = []
    for i in infos:
        m = _VERSION_RE.match(i.base_name)
        if m and not i.is_file:
            cand.append(((int(m.group(1)), int(m.group(2) or 0)), i.path))
    ok = _marked(fs, [p for _ke, p in cand], SUCCESS)
    return sorted(
        (ke, scheme + p) for (ke, p), good in zip(cand, ok) if good
    )


def latest_below(subdir: str, batch_id: int):
    """Newest complete ``((batch, epoch), path)`` with batch strictly
    below *batch_id*, or None."""
    below = [v for v in scan_versions(subdir) if v[0][0] < batch_id]
    return below[-1] if below else None


def read_latest(spark, subdir: str, batch_id: int = _ALL):
    """The newest complete version below *batch_id* as a DataFrame, or
    None for an empty store."""
    v = latest_below(subdir, batch_id)
    return read_parquet_state(spark, v[1]) if v else None


def newest_epochs(subdir: str) -> dict[int, tuple[int, str]]:
    """``{batch: (epoch, path)}`` at each batch's newest complete epoch
    (stores that keep every batch's version, like pack assignments)."""
    return {k: (e, p) for (k, e), p in scan_versions(subdir)}


def commit_version(df, subdir: str, batch_id: int) -> str:
    """Write *df* (partitions sized by the caller) as batch *batch_id*'s
    version ``v<k>`` of the rewrite store *subdir*, ``_SUCCESS`` last
    (Spark's job commit), and return its path; the one commit of every
    rewrite store. The replay guard runs first. Allowed: an empty
    store, a batch id above every version, or a replay of the batch's
    own intact, never-erased ``v<k>`` (at-least-once delivery).
    Rejected loudly, before anything is written: an id at or below
    another version with nothing of its own to replay, i.e. a replay
    from below an erasure/prune horizon (ack-and-skip it at the source)
    or an out-of-order id. An own version superseded by an erase epoch
    does not license a replay: the rewrite would put forgotten rows
    back on disk."""
    versions = scan_versions(subdir)
    k = int(batch_id)
    if versions and [e for (b, e), _p in versions if b == k] != [0]:
        max_k = max(b for (b, _e), _p in versions)
        if k <= max_k:
            raise ValueError(
                f"batch_id {k} is at or below an existing version of "
                f"{subdir} (max batch v{max_k}) with no own version to "
                "replay — it falls below an erasure/prune horizon; use a "
                "batch id above every existing version"
            )
    out = version_path(subdir, k)
    df.write.mode("overwrite").parquet(out)
    return out


def _remove_versions(subdir: str, doomed) -> int:
    """Remove every version dir (complete or torn) whose
    ``doomed(batch, name)`` holds; returns the number removed."""
    _fs, scheme, infos = _children(subdir)
    n = 0
    for i in infos:
        m = _VERSION_RE.match(i.base_name)
        if m and not i.is_file and doomed(int(m.group(1)), i.base_name):
            remove(scheme + i.path)
            n += 1
    return n


def prune(subdir: str, keep: int) -> int:
    """Keep only the newest complete epoch of the newest *keep* batches.
    Outranked epochs go regardless of *keep*: they are invisible to
    readers but physically retain the rows their successor erased.
    Returns the number of dirs removed."""
    ranked = sorted(newest_epochs(subdir).items())
    live = {os.path.basename(p) for _k, (_e, p) in ranked[-keep:]}
    batches = {k for k, _v in ranked}
    return _remove_versions(
        subdir, lambda k, name: k in batches and name not in live
    )


def purge_outranked(subdir: str, batch_id: int, keep_path: str) -> int:
    """Remove every version dir of batch *batch_id* except *keep_path*,
    torn ones included (see :func:`prune`)."""
    keep = os.path.basename(keep_path)
    return _remove_versions(
        subdir, lambda k, name: k == int(batch_id) and name != keep
    )


def purge_superseded(subdir: str, keep_path: str) -> None:
    """Remove everything in *subdir* except *keep_path*: each older
    version of a rewrite store is a full copy of rows (PII included)
    its successor replaced, and torn or foreign dirs may hold them too."""
    keep = os.path.basename(keep_path)
    fs, scheme, infos = _children(subdir)
    for i in infos:
        if i.base_name == keep:
            continue
        if i.is_file:
            fs.delete_file(i.path)
        else:
            remove(scheme + i.path)


def erase_cutover(
    df, subdir: str, cur: tuple[int, int], partitions: int
) -> str:
    """Write *df* as the next erase epoch ``v<k>.e<n+1>`` of the live
    version ``cur = (k, n)``, ``_SUCCESS`` last, then purge batch k's
    outranked epochs. Returns the new version's path."""
    k, e = cur
    out = os.path.join(subdir, f"v{k}.e{e + 1}")
    _write_then_mark(
        df.repartition(partitions).write.mode("overwrite"), out, SUCCESS
    )
    purge_outranked(subdir, k, out)
    return out


# -- append stores: batch=<id> + base_v<k>/_COMPACTED -----------------


def append_path(subdir: str, batch_id: int) -> str:
    return os.path.join(subdir, f"batch={int(batch_id)}")


def appends_below(subdir: str, batch_id: int = _ALL) -> list[str]:
    """Sorted paths of the ``batch=<id>`` appends with id strictly below
    *batch_id* (a replay of batch N never sees its own append)."""
    _fs, scheme, infos = _children(subdir)
    out = []
    for i in infos:
        if i.is_file or not i.base_name.startswith("batch="):
            continue
        try:
            b = int(i.base_name.split("=", 1)[1])
        except ValueError:
            continue
        if b < batch_id:
            out.append(scheme + i.path)
    return sorted(out)


def _numbered(path: str, prefix: str, marker: str):
    """``(fs, scheme, [(k, dir)])`` of the ``<prefix><k>`` dirs under
    *path* that carry *marker*, k-ascending (dirs scheme-less)."""
    fs, scheme, infos = _children(path)
    cand = []
    for i in infos:
        if i.is_file or not i.base_name.startswith(prefix):
            continue
        try:
            cand.append((int(i.base_name[len(prefix):]), i.path))
        except ValueError:
            continue
    ok = _marked(fs, [p for _k, p in cand], marker)
    return fs, scheme, sorted(kp for kp, good in zip(cand, ok) if good)


def base_versions(subdir: str) -> list[tuple[int, str]]:
    """Sorted ``(k, path)`` of the complete ``base_v<k>`` dirs."""
    _fs, scheme, found = _numbered(subdir, "base_v", COMPACTED)
    return [(k, scheme + p) for k, p in found]


def current_base(subdir: str) -> str | None:
    versions = base_versions(subdir)
    return versions[-1][1] if versions else None


def live_sources(subdir: str) -> list[str]:
    """Every complete piece of an append store: the current base (if
    any) followed by every append."""
    cur = current_base(subdir)
    return ([cur] if cur else []) + appends_below(subdir)


def read_prior(spark, subdir: str, batch_id: int):
    """Accumulated state strictly below *batch_id*: the current base
    filtered on its carried batch column, plus every append below the
    id. None for an empty store."""
    from pyspark.sql import functions as F

    frames = []
    base = current_base(subdir)
    if base is not None:
        frames.append(
            read_parquet_state(spark, base).where(
                F.col("batch") < int(batch_id)
            )
        )
    paths = appends_below(subdir, batch_id)
    if paths:
        frames.append(read_parquet_state(spark, *paths))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def read_live(spark, subdir: str):
    """``(merged, appends)``: the whole store as one DataFrame (None when
    empty) and the appends a :func:`fold` of it will remove."""
    cur = current_base(subdir)
    appends = appends_below(subdir)
    sources = ([cur] if cur else []) + appends
    merged = read_parquet_state(spark, *sources) if sources else None
    return merged, appends


def fold(df, subdir: str, appends: list[str], partitions: int = 1) -> str:
    """Write *df* as ``base_v<k+1>``, ``_COMPACTED`` last, then remove the
    older bases and the folded *appends*. Returns the new base's path."""
    versions = base_versions(subdir)
    nxt = (versions[-1][0] + 1) if versions else 1
    new_base = os.path.join(subdir, f"base_v{nxt}")
    _write_then_mark(
        df.repartition(partitions).write.mode("overwrite"),
        new_base,
        COMPACTED,
    )
    for _k, p in versions:
        remove(p)
    for p in appends:
        remove(p)
    return new_base


# -- IVFPQ ingest: list_id=<L>/ingest_batch=<b> + _ibase_v<k> ---------


def ibase_versions(path: str) -> list[tuple[int, str, int]]:
    """Sorted ``(k, dir, watermark)`` of the complete ``_ibase_v<k>``
    bases (the watermark is the ``_COMPACTED`` marker's content)."""
    fs, scheme, found = _numbered(path, "_ibase_v", COMPACTED)
    out = []
    for k, p in found:
        try:
            with fs.open_input_stream(p + "/" + COMPACTED) as f:
                w = int(f.read().decode().strip())
        except (ValueError, OSError):
            continue
        out.append((k, scheme + p, w))
    return out


def fold_ibase(df, path: str, watermark: int) -> str:
    """Write *df* (partitioned by list_id) as ``_ibase_v<k+1>``, the
    ``_COMPACTED`` marker carrying *watermark* last, then remove the
    older bases. Returns the new base's path."""
    versions = ibase_versions(path)
    nxt = (versions[-1][0] + 1) if versions else 1
    new_base = os.path.join(path, f"_ibase_v{nxt}")
    _write_then_mark(
        df.write.partitionBy("list_id").mode("overwrite"),
        new_base,
        COMPACTED,
        str(int(watermark)),
    )
    for _k, p, _w in versions:
        remove(p)
    return new_base


def partitions(path: str, key: str) -> list[tuple[str, str]]:
    """``(value, dir)`` of *path*'s ``<key>=<value>`` partition dirs."""
    _fs, scheme, infos = _children(path)
    prefix = key + "="
    return sorted(
        (i.base_name[len(prefix):], scheme + i.path)
        for i in infos
        if not i.is_file and i.base_name.startswith(prefix)
    )


def ingest_cells(path: str) -> list[tuple[int, str]]:
    """``(ingest_batch, dir)`` of every live ``list_id=*/ingest_batch=*``
    cell."""
    return [
        (int(b), d)
        for _L, ld in partitions(path, "list_id")
        for b, d in partitions(ld, "ingest_batch")
    ]


def has_cells(path: str) -> bool:
    """Whether any list partition holds an ingest cell."""
    return any(
        partitions(ld, "ingest_batch")
        for _L, ld in partitions(path, "list_id")
    )


def remove_empty_partitions(path: str, key: str) -> None:
    """Remove ``<key>=*`` dirs left with no entries."""
    for _v, d in partitions(path, key):
        if not _children(d)[2]:
            remove(d)


def sweep_cells(path: str, watermark: int) -> int:
    """Remove the ingest cells at or below *watermark* (folded into the
    base) and the list dirs they leave empty; returns cells removed."""
    swept = 0
    for b, d in ingest_cells(path):
        if b <= watermark:
            remove(d)
            swept += 1
    remove_empty_partitions(path, "list_id")
    return swept
