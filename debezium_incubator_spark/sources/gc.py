"""K4 — changelog post-processing / GC.

Reference: after a commit-log file is fully processed (EOF event), it is
moved to archive/ or error/, or deleted by the default CommitLogTransfer
(QueueProcessor.java:85-106, CommitLogPostProcessor.java:38-55,
BlackHoleCommitLogTransfer.java:13-24).

Our changelog is parquet files whose offset ranges are recoverable from
the parquet footer min/max. The GC watermark is one number per consumer:
its checkpointed ``stream_pos``. Delivery is ordered, so a table at
``stream_pos`` has processed every offset ≤ it, in every bucket; a file
whose max offset is ≤ the low watermark over all consumers can be
archived — no replay from a current checkpoint can need it.
"""

from __future__ import annotations

import json
import os
import shutil

from debezium_incubator_spark.lake.checkpoint import _atomic_write


def read_gc_state(changelog_dir: str) -> dict:
    """The GC's ``_gc_state.json`` record; {} when absent or unreadable."""
    try:
        with open(os.path.join(changelog_dir, "_gc_state.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _write_gc_state(changelog_dir: str, state: dict) -> None:
    try:
        _atomic_write(os.path.join(changelog_dir, "_gc_state.json"), json.dumps(state))
    except OSError:
        pass  # state is an optimization; next pass restarts the clock


def expire_changelog_files(
    changelog_dir: str,
    through_offset: int,
    counters: dict | None = None,
    error_grace_s: float = 300.0,
) -> list[str]:
    """Archive every readable changelog parquet file whose footer max
    offset is ≤ ``through_offset`` (the consumers' low watermark; -1
    archives nothing) into ``_archive/``.

    A CORRUPT file (unreadable footer) is moved to ``_error/`` and
    counted — the reference's EOF-failure path puts the segment in
    error/, not archive/ (QueueProcessor.java:98-102); the old behavior
    here (skip silently, forever) hid the failure from operators.

    Quarantine requires BOTH signals, so a writer merely stalled past
    the grace never loses a segment it is still producing:
      * the file was already unreadable on a PREVIOUS GC pass
        (first-seen timestamps persisted in ``_gc_state.json`` — a
        single transient mid-write observation never quarantines);
      * the first unreadable sighting is older than ``error_grace_s``.
    Pass a ``counters`` dict to receive {"archived": n, "errors": n}."""
    import time

    counters = counters if counters is not None else {}
    counters.setdefault("archived", 0)
    counters.setdefault("errors", 0)
    archive = os.path.join(changelog_dir, "_archive")
    error_dir = os.path.join(changelog_dir, "_error")
    state = read_gc_state(changelog_dir)
    first_seen: dict[str, float] = state.get("unreadable", {})
    archived_through = int(state.get("archived_through", -1))
    seen_this_pass: dict[str, float] = {}
    moved = []

    def _probe(fn: str):
        """Footer max-offset probe; (fn, max_off, ok). Exceptions →
        ok=False (corrupt/mid-write footer → quarantine path). max_off
        None with ok=True means stats are absent: the file is SKIPPED
        (never archived) — conservative, and Spark-written segments
        always carry stats."""
        from debezium_incubator_spark.sources.changelog import file_footer_offset_max

        try:
            return fn, file_footer_offset_max(os.path.join(changelog_dir, fn)), True
        except Exception:
            return fn, None, False

    names = sorted(fn for fn in os.listdir(changelog_dir) if fn.endswith(".parquet"))
    # footer probes run concurrently (a 100 TB changelog lists thousands
    # of segments; serial driver-side opens were pure added latency);
    # the move/quarantine phase below stays serial and ordered
    if names:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(names))) as pool:
            probed = list(pool.map(_probe, names))
    else:
        probed = []
    for fn, max_off, ok in probed:
        path = os.path.join(changelog_dir, fn)
        if ok:
            if max_off is None:
                continue
        else:
            import warnings

            now = time.time()
            first = first_seen.get(fn)
            if first is None or now - first < error_grace_s:
                # first sighting, or inside the grace: possibly mid-write —
                # record and re-probe next pass
                seen_this_pass[fn] = first if first is not None else now
                continue
            os.makedirs(error_dir, exist_ok=True)
            shutil.move(path, os.path.join(error_dir, fn))
            counters["errors"] += 1
            warnings.warn(f"corrupt changelog segment moved to _error/: {fn}")
            continue
        if int(max_off) <= through_offset:
            os.makedirs(archive, exist_ok=True)
            shutil.move(path, os.path.join(archive, fn))
            counters["archived"] += 1
            moved.append(fn)
    if moved:
        # history ≤ through_offset is no longer in the LIVE directory — a
        # later out-of-band catch-up (a table attached after this GC)
        # reads it from _archive/ instead
        archived_through = max(archived_through, through_offset)
    # persist first-seen state (files that became readable or were moved
    # drop out automatically: only this pass's sightings are kept)
    _write_gc_state(
        changelog_dir, {"unreadable": seen_this_pass, "archived_through": archived_through}
    )
    return moved


def reprocess_errors(changelog_dir: str) -> list[str]:
    """Companion heal for the ``_error/`` quarantine: after an operator
    repairs (or replaces) segments that GC moved aside as corrupt, move
    every now-READABLE segment into ``_archive/`` and clear its
    first-seen record; still-unreadable files stay quarantined.
    ≙ re-submitting failed commit logs to the connector
    (QueueProcessor.java:98-102 error path, reversed).

    Into ``_archive/``, NOT the live directory (review r5 #3): by the
    time an operator repairs a segment the stream has moved past its
    offsets — re-listing it live would either have the replay guard
    silently drop its rows (below the marks) or wedge the stream with
    OutOfOrderDeliveryError when batched with newer files. In
    ``_archive/`` the repaired history is invisible to the live source
    but served by the out-of-band catch-up view (orchestrator
    ``_archive_extra_paths``), so the recovery story is the engine's
    standard one: rebuild the affected table (DROP+CREATE or fresh
    attach) and the full history — including the repaired span —
    replays exactly once."""
    from debezium_incubator_spark.sources.changelog import file_footer_offset_max

    error_dir = os.path.join(changelog_dir, "_error")
    if not os.path.isdir(error_dir):
        return []
    archive = os.path.join(changelog_dir, "_archive")
    restored = []
    for fn in sorted(os.listdir(error_dir)):
        if not fn.endswith(".parquet"):
            continue
        src = os.path.join(error_dir, fn)
        try:
            file_footer_offset_max(src)  # readability probe
        except Exception:
            continue  # still corrupt: leave it quarantined
        os.makedirs(archive, exist_ok=True)
        shutil.move(src, os.path.join(archive, fn))
        restored.append(fn)
    if restored and (state := read_gc_state(changelog_dir)):
        for fn in restored:
            state.get("unreadable", {}).pop(fn, None)
        _write_gc_state(changelog_dir, state)
    return restored


def restore_archived(
    changelog_dir: str, through_offset: int | None = None
) -> list[str]:
    """K4 heal (VERDICT r4 #5, ≙ a pluggable CommitLogTransfer restoring
    archived segments, CommitLogPostProcessor.java:38-55): move back
    from ``_archive/`` every segment a bounded catch-up needs — any file
    whose footer MIN offset is ≤ ``through_offset`` (None = restore
    everything). Restored files are re-eligible for the NEXT GC pass the
    moment the consumers' low watermark covers them again, so the heal
    is transient by construction.

    Safe against a live streaming source on the same directory: a
    restored file keeps its original name/path, which the file source's
    seen-files log already contains — it is not redelivered; only
    directory (batch) reads see it.

    When the archive is drained, ``archived_through`` resets to -1 so
    catch-up paths stop warning; a partial restore keeps the mark
    (history above ``through_offset`` may still be missing — stay loud).
    Returns the restored file names."""
    from debezium_incubator_spark.sources.changelog import file_footer_offset_min

    archive = os.path.join(changelog_dir, "_archive")
    if not os.path.isdir(archive):
        return []
    restored = []
    for fn in sorted(os.listdir(archive)):
        if not fn.endswith(".parquet"):
            continue
        src = os.path.join(archive, fn)
        # readability probe on EVERY path (review r5 #6): a rotted
        # archived segment moved into the live directory would break
        # every directory read and take two GC sightings + the error
        # grace to re-quarantine — a self-inflicted outage from a heal
        try:
            lo = file_footer_offset_min(src)
        except Exception:
            continue  # unreadable archived segment: leave it
        if through_offset is not None and (lo is None or lo > through_offset):
            continue
        shutil.move(src, os.path.join(changelog_dir, fn))
        restored.append(fn)
    if restored and not any(
        fn.endswith(".parquet") for fn in os.listdir(archive)
    ):
        _write_gc_state(changelog_dir, {**read_gc_state(changelog_dir), "archived_through": -1})
    return restored
