"""Export-path and analytics benchmark, timed end to end and split by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout; it builds nothing and reads and writes only
under ``.perfbench_work/`` there. It pins itself and everything it starts to
all CPUs but one and sets ``SPARK_GRAFT_CPUS`` to that count. Every loop is
closed with one client: the next repetition starts only after the previous
one has ended.

Workloads:

- ``export_full``: the export CLI (``python -m
  wordpress_sql_to_contentstack_exporter_spark export --config ...``, all
  four modules) over a seeded WordPress site, from an empty ``data_dir``
  each time. Assets come from a local origin on 127.0.0.1 with a seeded
  404 set. Wall time runs from process launch to exit, JVM start and
  first-run compile included, because users pay them on every run.
- ``analytics_headline``: 12 of the 13 headline registry queries over seeded
  TPC-H-ish tables, one at a time in one warm session, each forced by a
  ``noop`` write. One repetition is one pass over the set. ``sessionize``
  is left out; ``analytics_child.HEADLINE`` says why.
- ``export_resume`` (not listed in BENCHMARK.json): the same CLI with
  ``--ids-file`` (the dead-letter ids plus a share of post, author and term
  ids) over a fresh copy of a completed full export; every document must
  come out byte-identical. Each of its runs pays two cold CLI launches
  (about 60 s on a 4-core VM), so it is left out of the listed workloads to
  keep a full round of runs under an hour.

With ``--trace 0`` the last line carries the end-to-end metrics, with
``--trace 1`` the per-layer ones. Lines before it, starting with ``#``,
hold the run stamp, table sizes, per-repetition figures and check results.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "wordpress_sql_to_contentstack_exporter_spark"
sys.path.insert(0, HERE)

from measure import more_reps, vm_hwm_mb  # noqa: E402

#: wp_posts rows, users, terms; the shares are FIXTURES.md family-A traits.
EXPORT_SIZING = {"rows": 20_000, "users": 400, "terms": 300, "missing_share": 0.02,
                 "no_description_share": 0.05, "resume_share": 0.01}
#: Scale of the analytics tables (lineitem ~6M x sf rows).
ANALYTICS_SF = 0.01
#: Near-dup queries must find at least this share of the planted copies.
MIN_PLANTED_RECALL = 0.85
DRIVER_MEM = "2g"
MODULES = ["assets", "authors", "categories", "posts"]

WHY = {
    "export_full": "the job operators run: sinks, wordpress builders and the HTTP "
                   "downloader do nearly all the work; cold CLI per run",
    "analytics_headline": "registry builders, operators and shuffles under load "
                          "with no sinks and no HTTP; warm session",
    "export_resume": "same sinks used differently: merges rewrite whole prior "
                     "documents for a tiny id subset; HTTP plane nearly idle",
}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    """One benchmark invocation: its work dir, child processes and stamp."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.cpus = pin_cpus()
        self.groups: set[int] = set()
        self.failures: list[str] = []
        self.env = dict(os.environ)
        self.env.update({
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "TMPDIR": os.path.join(self.work, "tmp"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        })
        self.stamp = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "nproc": os.cpu_count(), "cpu_affinity": sorted(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": self.cpus,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM, "cpu_model": cpu_model(),
            "load1_start": os.getloadavg()[0], "loop": "closed, 1 client",
            "why": WHY[workload],
        }

    def launch(self, cmd: list[str], log_name: str) -> dict:
        """Run ``cmd`` in its own process group; return exit code, wall
        from launch to exit, and the process's peak RSS. Waits until every
        process of the group (the JVM included) has ended."""
        log = open(os.path.join(self.work, log_name), "ab")
        peak = [0.0]
        done = threading.Event()
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=self.work, env=self.env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        self.groups.add(proc.pid)

        def sample():
            while not done.wait(0.05):
                peak[0] = max(peak[0], vm_hwm_mb(proc.pid))

        sampler = threading.Thread(target=sample)
        sampler.start()
        try:
            rc = proc.wait()
            wall = time.perf_counter() - t0
        finally:
            done.set()
            sampler.join()
            log.close()
        self.reap(proc.pid)
        if rc != 0:
            with open(os.path.join(self.work, log_name), errors="replace") as f:
                sys.stderr.write(f"--- {log_name} (exit {rc}), last lines:\n"
                                 + "".join(f.readlines()[-30:]))
        return {"rc": rc, "wall_s": wall, "rss_mb": peak[0]}

    def reap(self, pgid: int, timeout: float = 30.0) -> None:
        deadline = time.monotonic() + timeout
        while group_alive(pgid):
            if time.monotonic() > deadline:
                try:
                    os.killpg(pgid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                deadline = time.monotonic() + timeout
            time.sleep(0.05)
        self.groups.discard(pgid)

    def close(self) -> None:
        for pgid in list(self.groups):
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            self.reap(pgid)
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:  # another run's work dir is still there
            pass

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"# check failed: {msg}", flush=True)


def pin_cpus() -> int:
    """Confine this process, and so every process it starts, to all but one
    of its CPUs; return how many are left. Spark then runs one task thread
    per remaining CPU and the spare one takes the Python driver, the JVM's
    compiler and GC threads and the origin. On a 4-vCPU VM, runs on all four
    saw 5-10% CPU steal and analytics walls spread 28% across seeds; on
    three, steal stayed under 1% and both workloads ran faster."""
    cpus = sorted(os.sched_getaffinity(0))
    keep = cpus[:max(1, len(cpus) - 1)]
    os.sched_setaffinity(0, keep)
    return len(keep)


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_model() -> str:
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return "unknown"


def group_alive(pgid: int) -> bool:
    """True while a live (non-zombie) process is in group ``pgid``."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def timed_generations(gen, seed: int) -> tuple[list[float], list[str]]:
    """Generate the inputs for ``seed`` twice and for ``seed + 1`` once:
    returns the three times and digests (the set-up is repeated so its
    median is reported, and the digests show the generator is seeded)."""
    times, digests = [], []
    for i, s in enumerate((seed, seed, seed + 1)):
        t0 = time.perf_counter()
        digests.append(gen(s, f"gen{i}"))
        times.append(time.perf_counter() - t0)
    return times, digests


def check_seeded(run: Run, digests: list[str]) -> None:
    if digests[0] != digests[1]:
        run.fail("generator: the same seed gave different tables")
    if digests[0] == digests[2]:
        run.fail("generator: a different seed gave the same tables")


# --------------------------------------------------------------------- export

def export_workload(run: Run) -> tuple[dict, dict, int, int]:
    import origin as origin_mod
    import wpsite

    t0 = time.perf_counter()
    origin = origin_mod.Origin()
    origin_s = time.perf_counter() - t0
    try:
        sites = {}

        def gen(seed, name):
            sites[name] = wpsite.generate(seed, os.path.join(run.work, name), origin.url,
                                          EXPORT_SIZING)
            return sites[name].digest

        gen_times, digests = timed_generations(gen, run.seed)
        check_seeded(run, digests)
        site = sites["gen0"]
        origin.paths = site.paths
        print(f"# tables {json.dumps(site.tables)}", flush=True)
        data_dir = os.path.join(run.work, "data")
        cfg = os.path.join(run.work, "config.json")
        with open(cfg, "w") as f:
            json.dump({"data_dir": data_dir, "asset_parallelism": 2,
                       "source": {"kind": "parquet", "path": os.path.join(run.work, "gen0")}}, f)
        argv = ["export", "--config", cfg]
        setup_s = origin_s + median(gen_times)

        snapshot = None
        if run.workload == "export_resume":
            t1 = time.perf_counter()
            r = export_rep(run, origin, argv, data_dir, traced=False, tag="snapshot")
            if r["rc"] != 0:
                run.fail(f"snapshot export exited {r['rc']}")
            check_full(run, site, data_dir, r["origin"])
            snapshot = os.path.join(run.work, "snapshot")
            os.replace(data_dir, snapshot)
            ids = os.path.join(run.work, "ids.txt")
            with open(ids, "w") as f:
                f.write(",".join(str(i) for i in site.resume_ids))
            argv = argv + ["--ids-file", ids]
            setup_s += time.perf_counter() - t1

        reps = []
        start = time.perf_counter()
        while more_reps(start, len(reps), run.seconds, 2 if run.trace else 1):
            traced = run.trace and len(reps) % 2 == 1
            r = export_rep(run, origin, argv, data_dir, traced, f"rep{len(reps)}", snapshot)
            before = len(run.failures)
            if r["rc"] != 0:
                run.fail(f"rep {len(reps)}: export exited {r['rc']}")
            elif snapshot is None:
                check_full(run, site, data_dir, r["origin"])
            else:
                check_identical(run, snapshot, data_dir)
            r["failed"] = len(run.failures) > before
            reps.append(r)
            print(f"# rep {json.dumps({k: v for k, v in r.items() if k != 'spans'})}", flush=True)
    finally:
        origin.close()

    plain = [r for r in reps if not r["traced"]]
    e2e = {"wall_s": median([r["wall_s"] for r in plain]),
           "driver_rss_mb": median([r["rss_mb"] for r in plain]),
           "setup_s": setup_s, "samples": len(plain)}
    layers = {}
    if run.trace:
        traced = [r for r in reps if r["traced"]]
        per_rep = [export_layers(run.workload, r) for r in traced]
        layers = {k: median([p[k] for p in per_rep]) for k in per_rep[0]}
        layers["trace.overhead_s"] = median([r["wall_s"] for r in traced]) - e2e["wall_s"]
    return e2e, layers, len(reps), sum(r["failed"] for r in reps)


def export_rep(run: Run, origin, argv: list[str], data_dir: str, traced: bool, tag: str,
               snapshot: str | None = None) -> dict:
    shutil.rmtree(data_dir, ignore_errors=True)
    if snapshot is not None:
        shutil.copytree(snapshot, data_dir)
    origin.reset_counts()
    spans_path = os.path.join(run.work, f"spans-{tag}.json")
    if traced:
        cmd = [sys.executable, os.path.join(HERE, "export_child.py"), spans_path] + argv
    else:
        cmd = [sys.executable, "-m", PACKAGE] + argv
    r = run.launch(cmd, f"{tag}.log")
    r.update(traced=traced, origin=origin.counts())
    if traced and r["rc"] == 0:
        with open(spans_path) as f:
            r["spans"] = json.load(f)
    return r


def read_doc(data_dir: str, rel: str):
    with open(os.path.join(data_dir, rel)) as f:
        return json.load(f)


def check_full(run: Run, site, data_dir: str, counts: dict) -> None:
    """Key sets of every document, the dead-letter set and the asset bytes."""
    from wpsite import asset_body

    expect = {"posts": site.post_keys, "authors": site.author_keys,
              "categories": site.category_keys}
    try:
        for mod, keys in expect.items():
            if set(read_doc(data_dir, f"entries/{mod}/en-us.json")) != keys:
                run.fail(f"entries/{mod}/en-us.json keys differ from the site's")
            master = read_doc(data_dir, f"master/entries/{mod}.json")
            if set(master) != {"en-us"} or set(master["en-us"]) != keys:
                run.fail(f"master/entries/{mod}.json keys differ from the site's")
        assets = set(site.assets)
        if set(read_doc(data_dir, "assets/wp_assets.json")) != assets:
            run.fail("assets/wp_assets.json keys differ from the downloadable set")
        if set(read_doc(data_dir, "master/wp_assets.json")) != assets:
            run.fail("master/wp_assets.json keys differ from the downloadable set")
        if len(read_doc(data_dir, "master/wp_urls.json")) != len(assets):
            run.fail("master/wp_urls.json has the wrong number of urls")
        if set(read_doc(data_dir, "master/wp_failed.json")) != site.missing:
            run.fail("master/wp_failed.json differs from the 404 set")
    except (OSError, ValueError) as e:
        run.fail(f"export output unreadable: {e}")
        return
    total = 0
    for aid, (path, filename, size) in site.assets.items():
        try:
            with open(os.path.join(data_dir, "assets", aid, filename), "rb") as f:
                body = f.read()
        except OSError:
            run.fail(f"asset {aid} was not downloaded")
            return
        if body != asset_body(path, size):
            run.fail(f"asset {aid} bytes differ from the origin's")
            return
        total += len(body)
    if total != counts["bytes"]:
        run.fail(f"downloaded {total} bytes but the origin served {counts['bytes']}")


def check_identical(run: Run, snapshot: str, data_dir: str) -> None:
    """Every file of the completed export is byte-identical after the resume."""
    def files(top):
        return {os.path.relpath(os.path.join(d, n), top)
                for d, _, names in os.walk(top) for n in names}

    want, got = files(snapshot), files(data_dir)
    if want != got:
        run.fail(f"resume changed the file set: {sorted(want ^ got)[:5]}")
    for rel in sorted(want & got):
        with open(os.path.join(snapshot, rel), "rb") as a, \
                open(os.path.join(data_dir, rel), "rb") as b:
            if a.read() != b.read():
                run.fail(f"resume changed {rel}")


def export_layers(workload: str, rep: dict) -> dict:
    """Per-layer figures of one traced export repetition."""
    from spans import self_time

    spans = rep.get("spans") or []

    def total(prefix: str, key: str | None = None) -> float:
        return sum((s["end"] - s["start"]) if key is None else
                   (len(s[key]) if key == "jobs" else s[key])
                   for s in spans if s["name"].startswith(prefix))

    out = {
        "session.start_s": total("session.get_spark"),
        "plans.wordpress.build_s": total("plans.wordpress."),
        "sinks.keyed_json.entries_s": total("sinks.keyed_json.entries"),
        "sinks.keyed_json.master_s": total("sinks.keyed_json.master"),
        "sinks.keyed_json.rows_collected": total("sinks.keyed_json.", "rows"),
        "sinks.dlq.write_s": total("sinks.dlq.write"),
        "sinks.bytes_written": total("sinks.", "bytes"),
    }
    for m in MODULES:
        out[f"plans.pipeline.{m}_s"] = total(f"plans.pipeline.export_{m}")
        out[f"plans.pipeline.{m}.spark_jobs"] = total(f"plans.pipeline.export_{m}", "jobs")
    out["cli.count_s"] = total("cli.count.")
    out["cli.count.spark_jobs"] = total("cli.count.", "jobs")
    assets = [i for i, s in enumerate(spans) if s["name"] == "plans.pipeline.export_assets"]
    out["sources.http.download_s"] = sum(self_time(spans, i) for i in assets)
    counts = rep["origin"]
    out["origin.requests"] = counts["requests"]
    out["origin.connections"] = counts["connections"]
    out["origin.bytes"] = counts["bytes"]
    out["sources.http.useful_ratio"] = counts["ok"] / counts["requests"] if counts["requests"] else 0.0
    covered = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    out[f"{workload}.residual_s"] = rep["wall_s"] - covered
    return out


# ------------------------------------------------------------------ analytics

def analytics_workload(run: Run) -> tuple[dict, dict, int, int]:
    import analytics_child
    import tables

    infos = {}

    def gen(seed, name):
        infos[name], digest = tables.generate(seed, os.path.join(run.work, name), ANALYTICS_SF)
        return digest

    gen_times, digests = timed_generations(gen, run.seed)
    check_seeded(run, digests)
    sf_dir = os.path.join(run.work, "gen0")
    run.stamp.update(sf_dir=os.path.relpath(sf_dir, ROOT), sf=ANALYTICS_SF)
    print(f"# tables {json.dumps(infos['gen0'])}", flush=True)
    out = os.path.join(run.work, "analytics.json")
    r = run.launch([sys.executable, os.path.join(HERE, "analytics_child.py"), sf_dir,
                    str(run.seconds), str(int(run.trace)), out], "analytics.log")
    if r["rc"] != 0:
        run.fail(f"analytics session exited {r['rc']}")
        return ({"wall_s": r["wall_s"], "driver_rss_mb": r["rss_mb"], "setup_s": median(gen_times),
                 "samples": 1}, {}, 1, 1)
    with open(out) as f:
        res = json.load(f)
    check_analytics(run, sf_dir, res["checks"], infos["gen0"]["documents"]["rows"],
                    analytics_child)
    passes = res["passes"]
    plain = [p["wall_s"] for p in passes if not p["traced"]]
    print(f"# passes {json.dumps(passes)}", flush=True)
    e2e = {"wall_s": median(plain), "driver_rss_mb": res["rss_mb"],
           "setup_s": median(gen_times) + res["session_s"] + res["warmup_s"],
           "samples": len(plain)}
    layers = {}
    if run.trace:
        layers = analytics_layers(res, analytics_child.HEADLINE)
        layers["session.start_s"] = res["session_s"]
        traced = [p["wall_s"] for p in passes if p["traced"]]
        layers["trace.overhead_s"] = median(traced) - e2e["wall_s"]
    failed = len(passes) if run.failures else 0
    return e2e, layers, len(passes), failed


def check_analytics(run: Run, sf_dir: str, checks: dict, n_docs: int, child) -> None:
    """Oracle queries: hash equal to DuckDB's. Rows-only near-dup queries:
    the planted copies are found."""
    import duckdb
    import tables
    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import ORACLE_SQL

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{run.work}/tmp'")
    for t in tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for q, got in checks.items():
        if q in ORACLE_SQL:
            res = con.execute(ORACLE_SQL[q])
            want = child.fingerprint([d[0] for d in res.description], res.fetchall())
            if want != {k: got[k] for k in want}:
                run.fail(f"{q}: result differs from the DuckDB oracle "
                         f"({got['rows']} rows vs {want['rows']})")
        else:
            recall = got["planted_hits"] / n_docs
            if got["rows"] == 0 or recall < MIN_PLANTED_RECALL:
                run.fail(f"{q}: planted near-dup recall {recall:.3f} < {MIN_PLANTED_RECALL}")
    con.close()


def analytics_layers(res: dict, headline: list[str]) -> dict:
    spans = res["spans"]
    per_q: dict[str, list[dict]] = {q: [] for q in headline}
    for i, s in enumerate(spans):
        if s["parent"] is None:
            kids = {spans[j]["name"]: spans[j] for j in range(len(spans))
                    if spans[j]["parent"] == i}
            b, a = kids[f"{s['name']}.build"], kids[f"{s['name']}.action"]
            per_q[s["name"]].append({
                "build_s": b["end"] - b["start"], "action_s": a["end"] - a["start"],
                "spark_stages": s["stages"], "shuffle_write_bytes": s["shuffle_write_bytes"],
                "spill_bytes": s["spill_bytes"], "task_cpu_s": s["task_cpu_s"],
                "span_s": s["end"] - s["start"]})
    out = {}
    for q, rows in per_q.items():
        for k in ("build_s", "action_s"):
            out[f"plans.registry.{q}.{k}"] = median([r[k] for r in rows])
        for k in ("spark_stages", "shuffle_write_bytes", "spill_bytes", "task_cpu_s"):
            out[f"{q}.{k}"] = median([r[k] for r in rows])
    traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
    n = len(traced)
    covered = [sum(per_q[q][i]["span_s"] for q in headline) for i in range(n)]
    out["analytics_headline.residual_s"] = median([w - c for w, c in zip(traced, covered)])
    return out


# ----------------------------------------------------------------------- main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WHY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cpu0 = cpu_times()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        body = export_workload if args.workload.startswith("export") else analytics_workload
        e2e, layers, attempted, failed = body(run)
    finally:
        run.close()
    run.stamp["load1_end"] = os.getloadavg()[0]
    used = [b - a for a, b in zip(cpu0, cpu_times())]
    # time the hypervisor ran other guests on this VM's CPUs: noise no code change explains
    run.stamp["cpu_steal_share"] = used[7] / max(sum(used), 1)
    print(f"# stamp {json.dumps(run.stamp)}")
    summary = {"failed_share": failed / attempted, "attempted": attempted, "failed": failed,
               "wall_samples": e2e["samples"], "checks_failed": run.failures}
    print(f"# summary {json.dumps(summary)}")
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": layers.get(n, 0), "unit": u} for n, u in units.items()}
        extra = sorted(set(layers) - set(units))
        if extra:
            print(f"# per-layer figures not in BENCHMARK.json: {json.dumps({k: layers[k] for k in extra})}")
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in units.items()}
    print(json.dumps({"correct": not run.failures, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
