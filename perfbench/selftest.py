"""Self-tests of the benchmark's own code; no Spark session needed.

    python3 perfbench/selftest.py

Checks that the input generators are deterministic (same seed, same
bytes; another seed, other bytes), that the workload definitions
partition ``bench.HEADLINE`` over registered entries, and the summary
statistics and event-log helpers. Exits non-zero on the first failure.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
from spans import parse_event_log, union_length  # noqa: E402
from stats import slope, tail  # noqa: E402


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAILED: {what}")


def _digest_dir(path: str) -> dict[str, str]:
    return {
        fn: hashlib.sha256(open(os.path.join(path, fn), "rb").read()).hexdigest()
        for fn in sorted(os.listdir(path))
    }


def test_catalog_tables_deterministic(tmp: str) -> None:
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = os.path.join(tmp, f"tables_{tag}")
        datagen.write_catalog_tables(d, 0.001, seed)
        runs[tag] = _digest_dir(d)
    _check(runs["a"] == runs["b"], "same seed gives byte-identical catalog tables")
    _check(len(runs["a"]) == 10, "ten catalog tables")
    differ = [t for t in runs["a"] if runs["a"][t] != runs["c"][t]]
    # region and nation are fixed; every generated table changes with the seed
    _check(sorted(differ) == sorted(set(runs["a"]) - {"region.parquet", "nation.parquet"}),
           f"another seed changes every generated table (changed: {differ})")


def test_etl_inputs_deterministic(tmp: str) -> None:
    def land(seed: int, tag: str) -> dict[str, str]:
        d = os.path.join(tmp, f"land_{tag}")
        os.makedirs(d)
        corpus = datagen.EtlCorpus(seed, 2_000)
        for day in range(2):
            iv = corpus.interval(day, datetime(2025, 7, 1))
            datagen.write_json_array(iv["items"], os.path.join(d, f"playlist_{day}.json"))
            datagen.write_json_array(iv["artists"], os.path.join(d, f"artists_{day}.json"))
        return _digest_dir(d)

    a, b, c = land(3, "a"), land(3, "b"), land(4, "c")
    _check(a == b, "same seed gives byte-identical landed files")
    _check(all(a[f] != c[f] for f in a), "another seed changes every landed file")


def test_etl_input_shape() -> None:
    corpus = datagen.EtlCorpus(5, 5_000)
    iv = corpus.interval(0, datetime(2025, 7, 1))
    items = iv["items"]
    bad_ids = sum(not it["track"]["id"] for it in items) / len(items)
    _check(0.01 < bad_ids < 0.03, f"about 2% null or empty track ids ({bad_ids:.3f})")
    _check(iv["rows"] == len(items) - sum(not it["track"]["id"] for it in items), "expected row count")
    dates = [it["track"]["album"]["release_date"] for it in items]
    _check(any(d and len(d) == 4 for d in dates) and any(d and len(d) == 10 for d in dates)
           and "not-a-date" in dates and None in dates, "YYYY, YYYY-MM-DD, garbage and null release dates")
    n_artists = [len(it["track"]["artists"]) for it in items]
    _check(min(n_artists) == 0 and max(n_artists) <= 4, "0 (edge case) to 4 artists per track")
    genres = {g for a in iv["artists"] for g in a["genres"]}
    _check(any("techno" in g.lower() for g in genres) and "tech house" in genres,
           "techno genres and the 'tech house' near miss")
    day1 = {a["id"]: a["genres"] for a in corpus.interval(1, datetime(2025, 7, 1))["artists"]}
    changed = sum(day1.get(a["id"], a["genres"]) != a["genres"] for a in iv["artists"])
    _check(changed > 0, "artist genres change across days")
    seen = [a for it in items for a in (x["id"] for x in it["track"]["artists"])]
    top = max(seen.count(a) for a in set(seen[:200]))
    _check(top > 20 * len(seen) / len(set(seen)), "Zipf reuse: a few artists appear on many items")


def test_workload_definitions() -> None:
    from bench import HEADLINE
    from ravelytics_spark.plans.queries import REGISTRY

    from catalog import CORE, OPERATORS, RELATIONAL, check_definitions

    _check(check_definitions(HEADLINE, REGISTRY) == [], "workloads partition HEADLINE over REGISTRY")
    _check(len(RELATIONAL) == 36 and len(OPERATORS) == 40, "36 relational and 40 operator entries")
    no_oracle = [n for n in HEADLINE if REGISTRY[n].oracle is None]
    pinned = json.load(open(os.path.join(HERE, "pinned.json")))
    _check(all(any(k.startswith(n + "@") for k in pinned) for n in no_oracle),
           f"every entry without an oracle is pinned ({no_oracle})")
    _check(all(CORE[w] for w in CORE), "every catalog workload times at least one entry")


def test_stats() -> None:
    _check(tail([1.0, 2.0, 3.0]) == tail([3.0, 1.0, 2.0]), "tail is order-free")
    xs = [float(i) for i in range(1, 101)]
    # 100 samples: p90 is the highest level with ten samples beyond it
    _check(abs(tail(xs) - 90.1) < 1e-9, f"tail of 1..100 is p90 ({tail(xs)})")
    _check(abs(slope([1.0, 3.0, 5.0]) - 2.0) < 1e-12, "slope")


def test_event_log(tmp: str) -> None:
    d = os.path.join(tmp, "eventlog")
    os.makedirs(d)
    props = {"spark.jobGroup.id": "w/q#1/spark.exec"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": props},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms, "Failed": False},
         "Task Metrics": {"JVM GC Time": 5, "Disk Bytes Spilled": 0,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 100},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
                          "Input Metrics": {"Bytes Read": 10}}}
        for ms in (100, 100, 400)
    ] + [
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1400}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    ]
    with open(os.path.join(d, "app"), "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in events) + "\n")
    g = parse_event_log(d)["w/q#1/spark.exec"]
    _check((g.jobs, g.stages, g.tasks) == (1, 1, 3), "job, stage and task counts")
    _check(g.stage_walls == [(0.4, 4.0)], f"stage wall and max/median skew ({g.stage_walls})")
    _check((g.shuffle_read_b, g.shuffle_write_b, g.input_b) == (300, 150, 30), "byte totals")
    _check(abs(union_length(g.job_intervals, 0.0, 1.2) - 0.2) < 1e-9, "job time clipped to a span")


def main() -> int:
    base = os.path.join(os.getcwd(), ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=base)
    try:
        for name, fn in list(globals().items()):
            if name.startswith("test_"):
                fn(tmp) if fn.__code__.co_argcount else fn()
                print(f"ok {name}")
    finally:
        shutil.rmtree(tmp)
        if not os.listdir(base):
            os.rmdir(base)
    return 0


if __name__ == "__main__":
    sys.exit(main())
