"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line with per-query wall times.

Each query is materialized via a count-ish action (noop write would hide
collect cost; .count() after a cache-free run measures the full plan).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


LOAD_GATE = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "4.0"))


def _wait_for_quiet_box(
    threshold: float = LOAD_GATE, max_wait_sec: float = 600.0
) -> float:
    """Wait (bounded) for the 1-minute loadavg to fall under ``threshold``
    before timing anything. The r6 driver bench regressed a uniform
    ~1.32× across 112 queries with ZERO code changes — the signature of a
    busy box — and the artifact gave no way to tell. Now the bench (a)
    refuses to start hot while the box is busy, up to 10 minutes, and
    (b) records the loadavg it actually started at in both JSON outputs
    so an environmental regression is diagnosable from the artifact."""
    deadline = time.time() + max_wait_sec
    load = os.getloadavg()[0]
    while load > threshold and time.time() < deadline:
        print(
            f"bench: 1m loadavg {load:.1f} > {threshold} — waiting for a "
            f"quiet box ({int(deadline - time.time())}s left)",
            file=sys.stderr,
        )
        time.sleep(15)
        load = os.getloadavg()[0]
    return load


def _time_query(fn, spark, sf_dir: str, runs: int) -> float:
    """Hot best-of-N wall time for one registered query (page cache + JIT
    warm across the N runs)."""
    best = None
    for _ in range(runs):
        t0 = time.time()
        fn(spark, sf_dir).count()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best


def _run_slice(sf_dir: str, lo: int, hi: int, only: list | None = None) -> dict:
    """Time queries [lo, hi) of the registry in THIS process's JVM and
    return {timings, loads, loads_after, post_hot, chunk_meta}. Extracted
    so the orchestrator can run each slice in a FRESH subprocess: the r9
    bench found ~4x inflation on late-position queries after ~110 queries
    in one JVM (solo reruns were normal — cumulative codegen/metaspace/
    block-manager state, not the operators), so cross-query JVM state is
    now bounded by the chunk size instead of the registry size. ``only``
    restricts the slice to the named queries (the sentinel re-run)."""
    import gc
    import math
    import multiprocessing

    import __spark_entry__ as e
    from incubator_stormcrawler_spark.session import get_spark

    t_slice0 = time.time()
    load_slice0 = os.getloadavg()[0]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Untimed per-chunk warmup (r10, from the r9 verdict): the chunked
    # fresh-JVM harness killed late-position inflation but moved
    # JIT/codegen cold-start onto each chunk's first timed rows (all four
    # >=2x r9 deltas sat at chunk positions 0-4). Exercise every engine
    # subsystem a registered query can hit — parquet scan, hash-agg
    # shuffle, window, broadcast join, and an Arrow mapInPandas pass
    # (Python worker pool startup) — BEFORE the clock starts, so timed
    # rows measure the operator, not the JVM's first compile.
    spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    _w = spark.range(1_000_000).selectExpr("id % 997 as k", "id as v")
    _w.groupBy("k").count().count()
    _w.selectExpr("k", "v").createOrReplaceTempView("__bench_warm")
    spark.sql(
        "select k, row_number() over (partition by k order by v) rn "
        "from __bench_warm"
    ).where("rn <= 2").count()
    _dim = spark.range(997).selectExpr("id as k", "id * 2 as w")
    _w.join(_dim.hint("broadcast"), "k").count()
    spark.range(10_000).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    spark.catalog.dropTempView("__bench_warm")
    spark.catalog.clearCache()

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    items = list(e.queries().items())[lo:hi]
    if only is not None:
        wanted = set(only)
        items = [kv for kv in list(e.queries().items()) if kv[0] in wanted]
    # r10 verdict item 5: the generic warmup above exercises engine
    # SUBSYSTEMS but not the first timed query's own planning/codegen
    # profile — three of r10's >=2x drift rows still sat at chunk
    # offsets 0-1 (tpch_brand_revenue 2.47x at offset 0). Run the
    # chunk's FIRST registered query once UNTIMED so the first timed row
    # measures the operator, not its codegen cold start.
    t_w0 = time.time()
    if items:
        try:
            items[0][1](spark, sf_dir).count()
        except Exception:
            pass  # the timed loop reports the failure with its sentinel
        spark.catalog.clearCache()
    warmup_first_sec = round(time.time() - t_w0, 3)
    timings: dict[str, float] = {}
    loads: dict[str, float] = {}
    loads_after: dict[str, float] = {}
    # Per-query load gating (r7 fix, refined r8): every query samples the
    # 1-minute loadavg immediately BEFORE its timing runs; a query whose
    # pre-sample exceeds the gate is quiet-waited and re-run ONCE, the
    # retry kept only if cleaner. The PRE-sample is the contamination
    # signal; the POST-sample is recorded but NOT gated on (a 32-thread
    # iterative stage legitimately drives its own 1m loadavg past any
    # gate). r9 advisory: a post-sample above the self-load ceiling
    # pre + ncpu*(1 - e^(-t/60)) cannot be self-load — an external spike
    # began mid-query — and is counted in post_hot (no retry; the next
    # query's pre-sample gate handles sustained load).
    ncpu = float(os.environ.get(
        "SPARK_GRAFT_CPUS", multiprocessing.cpu_count()))
    post_hot: list[str] = []
    for name, fn in items:
        try:
            q_load = None
            for attempt in range(2):
                load0 = os.getloadavg()[0]
                if load0 > LOAD_GATE:
                    load0 = _wait_for_quiet_box(max_wait_sec=120.0)
                t_wall0 = time.time()
                best = _time_query(fn, spark, sf_dir, runs)
                elapsed = time.time() - t_wall0
                load1 = os.getloadavg()[0]
                self_ceiling = load0 + ncpu * (
                    1.0 - math.exp(-elapsed / 60.0))
                if load1 > max(LOAD_GATE, self_ceiling) and name not in post_hot:
                    post_hot.append(name)
                    print(
                        f"bench: {name} post-load {load1:.1f} exceeds "
                        f"self-load ceiling {self_ceiling:.1f} — external "
                        "spike began mid-query (advisory)",
                        file=sys.stderr,
                    )
                if q_load is None or load0 < q_load:
                    q_load, timings[name] = load0, round(best, 3)
                    loads_after[name] = round(load1, 2)
                if load0 <= LOAD_GATE:
                    break
                print(
                    f"bench: {name} STARTED at 1m load {load0:.1f} > "
                    f"{LOAD_GATE} — "
                    f"{'re-running once' if attempt == 0 else 'keeping cleaner attempt'}",
                    file=sys.stderr,
                )
            loads[name] = round(q_load, 2)
        except Exception as ex:  # a failing query gets a sentinel, not a crash
            print(f"bench error in {name}: {ex}", file=sys.stderr)
            # only install the sentinel when NO attempt recorded a timing
            if name not in timings:
                timings[name] = -1.0
                loads[name] = round(os.getloadavg()[0], 2)
            elif name not in loads:
                loads[name] = round(q_load, 2)
        # Release per-query executor state: cached/checkpointed
        # intermediates otherwise accumulate in the single local JVM and
        # later queries pay for it in spills (measured 8x in round 4).
        spark.catalog.clearCache()
        gc.collect()
    return {
        "timings": timings,
        "loads": loads,
        "loads_after": loads_after,
        "post_hot": post_hot,
        # r10 verdict item 4: the drift DENOMINATOR. r10's uniform 1.21x
        # fleet drift could only be attributed (environment vs operators)
        # by cross-referencing two rounds' artifacts by hand; per-chunk
        # wall + boundary loads let the next round's judge read it off.
        "chunk_meta": {
            "slice": f"{lo}:{hi}" if only is None else "sentinel",
            "n_queries": len(items),
            "wall_sec": round(time.time() - t_slice0, 3),
            "warmup_first_sec": warmup_first_sec,
            "load_1m_start": round(load_slice0, 2),
            "load_1m_end": round(os.getloadavg()[0], 2),
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    # child mode: run one registry slice in this (fresh) JVM
    sl = os.environ.get("SPARK_GRAFT_BENCH_SLICE")
    if sl:
        only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
        only = only_env.split(",") if only_env else None
        lo, hi = (int(x) for x in sl.split(":"))
        out = _run_slice(sf_dir, lo, hi, only=only)
        with open(os.environ["SPARK_GRAFT_BENCH_OUT"], "w") as fh:
            json.dump(out, fh)
        return

    start_load = _wait_for_quiet_box()

    import __spark_entry__ as e

    # Previous committed per-query numbers (for the >=2x auto-solo-rerun
    # below) — read BEFORE this run overwrites the file. Prefer a row's
    # prior SOLO reading when one exists: chunk numbers are position-
    # sensitive (the r11 lesson), solo numbers are the adjudicated ones.
    prev_detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL_latest.json"
    )
    prev_timings: dict = {}
    try:
        with open(prev_detail_path) as fh:
            prev = json.load(fh)
        # SCALE GUARD (r13 incident): a fast probe at another sf (the
        # verify recipe runs sf0.001) overwrites the detail file, and
        # comparing sf0.1 chunk readings against sf0.001 baselines
        # flagged 40 rows >=2x and burned 12 solo reruns on phantom
        # regressions. Prev readings only adjudicate SAME-sf runs.
        cur_sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        if str(prev.get("sf")) == cur_sf:
            prev_timings = dict(prev.get("queries") or {})
            for nm, rec in (prev.get("solo_reruns") or {}).items():
                if isinstance(rec, dict) and rec.get("solo_sec", -1) > 0:
                    prev_timings[nm] = rec["solo_sec"]
    except (OSError, json.JSONDecodeError, ValueError):
        pass

    names = list(e.queries())
    chunk = int(os.environ.get("SPARK_GRAFT_BENCH_CHUNK", "40"))
    timings: dict[str, float] = {}
    loads: dict[str, float] = {}
    loads_after: dict[str, float] = {}
    post_hot: list[str] = []
    chunks_meta: list[dict] = []
    if chunk <= 0:
        res = _run_slice(sf_dir, 0, len(names))
        timings, loads = res["timings"], res["loads"]
        loads_after, post_hot = res["loads_after"], res["post_hot"]
        chunks_meta.append(res.get("chunk_meta", {}))
    else:
        import subprocess
        import tempfile

        for lo in range(0, len(names), chunk):
            hi = min(lo + chunk, len(names))
            # r11 verdict item 1a: the quiet gate used to run ONCE at
            # launch, so a load spike BETWEEN chunks was measured, not
            # waited out (the driver's r11 chunk 3 started at load 4.22,
            # above the 4.0 gate). Gate before EVERY chunk.
            _wait_for_quiet_box()
            with tempfile.NamedTemporaryFile(
                suffix=".json", delete=False
            ) as tf:
                out_path = tf.name
            env = dict(os.environ)
            env["SPARK_GRAFT_BENCH_SLICE"] = f"{lo}:{hi}"
            env["SPARK_GRAFT_BENCH_OUT"] = out_path
            rc = subprocess.call(
                [sys.executable, os.path.abspath(__file__)], env=env
            )
            if rc != 0:
                print(f"bench: slice {lo}:{hi} exited rc={rc}",
                      file=sys.stderr)
            try:
                with open(out_path) as fh:
                    res = json.load(fh)
                timings.update(res["timings"])
                loads.update(res["loads"])
                loads_after.update(res["loads_after"])
                post_hot.extend(res["post_hot"])
                chunks_meta.append(res.get("chunk_meta", {}))
            except (OSError, json.JSONDecodeError) as ex:
                print(f"bench: slice {lo}:{hi} output unreadable: {ex}",
                      file=sys.stderr)
                for name in names[lo:hi]:
                    timings.setdefault(name, -1.0)
                    loads.setdefault(name, round(os.getloadavg()[0], 2))
            finally:
                try:
                    os.unlink(out_path)
                except OSError:
                    pass
    total = round(sum(t for t in timings.values() if t >= 0), 3)

    # Auto solo-rerun (r11 verdict item 1b): any row that measured >=2x
    # its previous committed reading gets an automatic fresh-JVM
    # best-of-3 rerun behind its own quiet gate — the manual adjudication
    # protocol (BASELINE.md §r11) that consumed judge items in three
    # consecutive rounds (graph_triangles r9, containment/ivf r10,
    # trustrank/semdedup/ivf_topk r11), now part of the artifact. Both
    # readings land in BENCH_DETAIL; the headline `queries` map keeps the
    # in-chunk numbers (the driver contract), so cross-round comparison
    # reads solo-vs-solo where chunk position inflated a row.
    solo_reruns: dict = {}
    flagged = sorted(
        (
            nm
            for nm, t in timings.items()
            if t >= 1.0
            and prev_timings.get(nm, 0) > 0
            and t >= 2.0 * prev_timings[nm]
        ),
        key=lambda nm: -(timings[nm] / prev_timings[nm]),
    )
    max_solo = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_SOLO", "12"))
    if len(flagged) > max_solo:
        print(
            f"bench: {len(flagged)} rows >=2x prev; solo-rerunning the "
            f"worst {max_solo} (cap SPARK_GRAFT_BENCH_MAX_SOLO), dropping "
            + ",".join(flagged[max_solo:]),
            file=sys.stderr,
        )
    if flagged and not os.environ.get("SPARK_GRAFT_SKIP_SOLO"):
        import subprocess
        import tempfile

        for nm in flagged[:max_solo]:
            _wait_for_quiet_box()
            with tempfile.NamedTemporaryFile(
                suffix=".json", delete=False
            ) as tf:
                out_path = tf.name
            env = dict(os.environ)
            env["SPARK_GRAFT_BENCH_SLICE"] = "0:0"
            env["SPARK_GRAFT_BENCH_ONLY"] = nm
            env["SPARK_GRAFT_BENCH_OUT"] = out_path
            env["SPARK_GRAFT_BENCH_RUNS"] = "3"
            rc = subprocess.call(
                [sys.executable, os.path.abspath(__file__)], env=env
            )
            try:
                with open(out_path) as fh:
                    res = json.load(fh)
                solo = res["timings"].get(nm, -1.0)
                solo_reruns[nm] = {
                    "prev_sec": prev_timings[nm],
                    "chunk_sec": timings[nm],
                    "solo_sec": solo,
                    "ratio_chunk_vs_prev": round(
                        timings[nm] / prev_timings[nm], 2
                    ),
                    "ratio_solo_vs_prev": (
                        round(solo / prev_timings[nm], 2) if solo > 0 else None
                    ),
                    "load_1m": res["loads"].get(nm),
                }
            except (OSError, json.JSONDecodeError) as ex:
                print(
                    f"bench: solo rerun of {nm} unreadable (rc={rc}): {ex}",
                    file=sys.stderr,
                )
            finally:
                try:
                    os.unlink(out_path)
                except OSError:
                    pass

    # Sentinel solo re-run (r10 verdict item 4): a FIXED, unseeded,
    # sub-second 10-query subset re-timed in its own fresh JVM at the
    # very end of the run. Cross-round comparison of these rows isolates
    # environment drift (run-time load, JVM/OS state) from operator
    # changes — r10's uniform 1.21x fleet drift had no such denominator.
    # The list is part of the artifact contract: do not edit casually.
    sentinel_queries = [
        "frontier_topk", "frontier_next_generation",
        "frontier_status_counts", "status_merge_counts",
        "url_partition_keys", "seeds_parse", "text_quality",
        "events_rate_10s", "indexer_projection", "multimodal_resize",
    ]
    sentinel: dict = {}
    if not os.environ.get("SPARK_GRAFT_SKIP_SENTINEL"):
        import subprocess
        import tempfile

        # the sentinel is the drift DENOMINATOR — never time it hot
        _wait_for_quiet_box()
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            out_path = tf.name
        env = dict(os.environ)
        env["SPARK_GRAFT_BENCH_SLICE"] = "0:0"
        env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(sentinel_queries)
        env["SPARK_GRAFT_BENCH_OUT"] = out_path
        rc = subprocess.call(
            [sys.executable, os.path.abspath(__file__)], env=env
        )
        try:
            with open(out_path) as fh:
                res = json.load(fh)
            sentinel = {
                "queries": res["timings"],
                "chunk_meta": res.get("chunk_meta", {}),
            }
        except (OSError, json.JSONDecodeError) as ex:
            print(f"bench: sentinel run unreadable (rc={rc}): {ex}",
                  file=sys.stderr)
        finally:
            try:
                os.unlink(out_path)
            except OSError:
                pass

    # BASELINE.md operator workloads (frontier/merge vs DuckDB, normalize +
    # parse throughput) — skippable via SPARK_GRAFT_SKIP_BASELINES=1.
    baselines = {}
    if not os.environ.get("SPARK_GRAFT_SKIP_BASELINES"):
        try:
            from incubator_stormcrawler_spark.session import get_spark

            spark = get_spark("bench")
            spark.sparkContext.setLogLevel("ERROR")
            from tools.baseline_bench import run_baselines

            baselines = run_baselines(spark)
        except Exception as ex:
            print(f"baseline bench error: {ex}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver keeps only a bounded (~2 KB) TAIL of stdout and parses the
    # final JSON line. With 90+ queries the per-query map alone is ~3.5 KB,
    # so embedding it in the final line pushes the line's HEAD (metric,
    # total) out of the capture window — BENCH_r04 parsed null for exactly
    # that reason (r01 had the same failure from the baselines map). So:
    # full detail goes to a repo file + stderr, and stdout ENDS with a
    # short summary-only line that always fits in the tail.
    detail = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_loads_1m": loads,
        "query_loads_1m_after": loads_after,
        "sf": sf_val,
        "load_1m_at_start": round(start_load, 2),
        "load_1m_at_end": round(os.getloadavg()[0], 2),
        "max_load_1m": max(loads.values()) if loads else round(start_load, 2),
        "max_load_1m_incl_self": round(
            max(
                list(loads.values()) + list(loads_after.values())
                + [start_load]
            ),
            2,
        ),
        "load_gate": LOAD_GATE,
        "chunk_size": chunk,
        "n_hot_queries": sum(1 for v in loads.values() if v > LOAD_GATE),
        "n_post_hot_queries": len(post_hot),
        "post_hot_queries": post_hot,
        "chunks": chunks_meta,
        "sentinel": sentinel,
        "solo_reruns": solo_reruns,
        "n_flagged_2x": len(flagged),
    }
    if baselines:
        print("baselines: " + json.dumps(baselines, separators=(",", ":")),
              file=sys.stderr)
    print("queries: " + json.dumps(timings, separators=(",", ":")),
          file=sys.stderr)
    # r13 verdict item 2: the driver benches the SAME tree at several
    # configs (32-core run, 8-core scaling rerun, other SFs), and each run
    # used to overwrite BENCH_DETAIL_latest.json — so the driver's
    # per-query comparator found nothing to compare (PERF_r13.per_query
    # was empty; the 8-core rerun had clobbered the 32-core detail). Every
    # run now ALSO writes a per-config file, BENCH_DETAIL_<sf>_c<cpus>.json,
    # that a cross-config rerun can never clobber; `_latest` stays for the
    # tooling that reads it.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    cpus_label = os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if cpus_label == "*":  # local[*]: name the core count it resolves to
        cpus_label = str(os.cpu_count() or 0)
    detail["cpus"] = cpus_label
    for fname in (
        "BENCH_DETAIL_latest.json",
        f"BENCH_DETAIL_{sf}_c{cpus_label}.json",
    ):
        detail_path = os.path.join(repo_dir, fname)
        try:
            with open(detail_path, "w") as fh:
                json.dump(detail, fh, indent=1)
        except OSError as ex:
            print(f"could not write {detail_path}: {ex}", file=sys.stderr)
    n_err = sum(1 for t in timings.values() if t < 0)
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "n_errors": n_err,
                "load_1m_at_start": round(start_load, 2),
                "max_load_1m": detail["max_load_1m"],
                "n_hot_queries": detail["n_hot_queries"],
                "n_post_hot_queries": detail["n_post_hot_queries"],
                "n_flagged_2x": len(flagged),
                "n_solo_reruns": len(solo_reruns),
                "detail_file": "BENCH_DETAIL_latest.json",
            },
            separators=(",", ":"),
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
