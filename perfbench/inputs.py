"""Seeded workload inputs: generation, digests and pins.

Every input is generated from ``(workload, seed)`` by the package's own
generator (``sources/generator.py``). The engine only ever sees the
written parquet.

Each input directory gets a digest — row count plus an order-independent
row hash (the sum of DuckDB's per-row hash) — so a change to the
generator cannot silently change a workload:

``pins.json`` records the digests of the seeds the benchmark was proven
on, and a run whose inputs do not match their pin is refused. Inputs
are not cached: each run generates its own inside its session, so every
run does the same set-up work whether or not it saw the seed before.

Check every workload's inputs against the pins with ``python3
perfbench/inputs.py --seeds 1-10``; add ``--pin`` to record their
digests in ``pins.json`` instead.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "pins.json")

SPECS: dict[str, dict] = {
    # one drain epoch of ~105k events, above the merge's fused gate of
    # max(target_rows/4, 100k) events
    "catchup": {"n_keys": 20_000, "n_repos": 20, "n_slots": 96_000, "epoch_slots": 96_000},
    # a warm-up segment, then at least 40 offered so freshness p75 has
    # 10 samples beyond it
    "trickle": {"n_keys": 8_000, "n_repos": 20, "segments": 48, "segment_slots": 100},
}

LOG_FILES = 4  # catchup's changelog: offset-range files

LAYOUT = {
    "catchup": ["src", "log"],
    "trickle": ["src", "segs"],
}


class InputMismatch(RuntimeError):
    """Generated inputs differ from the pinned digest for (workload, seed)."""


# ---------------------------------------------------------------- digests
def parquet_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def digest_dir(path: str) -> str:
    """``rows:hash`` — independent of row order and file split."""
    import duckdb

    files = parquet_files(path)
    if not files:
        raise InputMismatch(f"no parquet files under {path}")
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        n, h = con.execute(
            "SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0) % 18446744073709551616 "
            "FROM read_parquet(?) t",
            [files],
        ).fetchone()
    finally:
        con.close()
    return f"{n}:{int(h):016x}"


def digest_inputs(root: str, workload: str) -> dict[str, str]:
    return {name: digest_dir(os.path.join(root, name)) for name in LAYOUT[workload]}


def load_pins() -> dict:
    try:
        with open(PINS) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def check_pin(workload: str, seed: int, digests: dict[str, str]) -> None:
    want = load_pins().get(workload, {}).get(str(seed))
    if want is not None and want != digests:
        raise InputMismatch(
            f"{workload} seed {seed}: inputs {digests} differ from pinned {want} — "
            "the generator or the workload sizes changed"
        )


# ---------------------------------------------------------------- generation
def _split_by_offset(src_dir: str, out_dir: str, files: int, width: int) -> None:
    """Offset-range files of ``width`` offsets each (offsets are
    slot*4+idx): the changelog's range() prunes by their footer stats,
    and trickle offers one file per segment."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(src_dir).sort_by("offset")
    off = table.column("offset")
    os.makedirs(out_dir)
    for i in range(files):
        mask = pc.and_(pc.greater_equal(off, i * width), pc.less(off, (i + 1) * width))
        pq.write_table(table.filter(mask), os.path.join(out_dir, f"seg-{i:04d}.parquet"))


def generate(spark, workload: str, seed: int, out: str, ncpu: int) -> None:
    spec = SPECS[workload]
    from debezium_incubator_spark.sources.generator import gen_changelog, gen_source_table

    common = {"n_keys": spec["n_keys"], "n_repos": spec["n_repos"], "seed": seed}
    gen_source_table(spark, partitions=ncpu, **common).write.parquet(
        os.path.join(out, "src")
    )
    if workload == "trickle":
        n_slots = spec["segments"] * spec["segment_slots"]
    else:
        n_slots = spec["n_slots"]
    log = gen_changelog(spark, n_slots=n_slots, partitions=ncpu, **common)
    tmp = os.path.join(out, "_log")
    log.write.parquet(tmp)
    if workload == "trickle":
        _split_by_offset(tmp, os.path.join(out, "segs"), spec["segments"], spec["segment_slots"] * 4)
    else:
        _split_by_offset(tmp, os.path.join(out, "log"), LOG_FILES, -(-n_slots * 4 // LOG_FILES))
    shutil.rmtree(tmp)


def materialize(spark, workload: str, seed: int, out: str, ncpu: int) -> dict[str, str]:
    """Generate the inputs of ``(workload, seed)`` under ``out`` and
    return their digests; refuse inputs that differ from their pin."""
    generate(spark, workload, seed, out, ncpu)
    digests = digest_inputs(out, workload)
    check_pin(workload, seed, digests)
    return digests


def _parse_seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv: list[str]) -> int:
    """Generate inputs, checked against the pins; with --pin, record
    their digests as the pins."""
    import argparse

    sys.path.insert(0, os.getcwd())
    from harness import STATE_DIR, start_session, stop_session

    ap = argparse.ArgumentParser(description=main.__doc__)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,4,7")
    ap.add_argument("--pin", action="store_true", help="record the digests in pins.json")
    args = ap.parse_args(argv)
    ncpu = len(os.sched_getaffinity(0))
    work = os.path.join(STATE_DIR, "work", f"inputs-{os.getpid()}")
    spark = start_session(ncpu, work)
    pins = load_pins()
    try:
        for seed in _parse_seeds(args.seeds):
            for workload in sorted(SPECS):
                out = os.path.join(work, f"{workload}-{seed}")
                if args.pin:  # record, do not check
                    generate(spark, workload, seed, out, ncpu)
                    digests = digest_inputs(out, workload)
                else:
                    digests = materialize(spark, workload, seed, out, ncpu)
                shutil.rmtree(out)
                pins.setdefault(workload, {})[str(seed)] = digests
                print(workload, seed, digests, flush=True)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if args.pin:
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
