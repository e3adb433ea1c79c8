#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON line.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload sql_short --seed 1 --seconds 8 --trace 0

A workload is a fixed list of registry names and the corpus they read
(perfbench/workloads.json). The corpora in perfbench/corpus are fixed
copies of the TPC-H-ish tables at sf0.1 and sf0.01, generated with seed
42; the seed fixes the order of the queries in every pass. One client runs one query at a time and times
`fn(spark, sfDir).count()`, as graft.Bench does.

A run:
  1. builds graft's sources together with the harness (perfbench/harness)
     into .bench_build/, unless that build is current; the stage roots the
     sources hard-code are moved under .bench_build/run/stage;
  2. once per build, runs graft.Verify over every workload's rows on the
     workload's corpus, which also stages what they read, and checks its
     output with tools/check_oracle.py; the DuckDB row counts and any
     failed rows are kept for later runs;
  3. times set-up (launch to SparkSession ready with the registry loaded)
     in SETUP_SAMPLES fresh JVMs (one in a traced run), the last of which
     goes on to
  4. run one cold pass and warm passes for --seconds;
  5. checks every timed count against the DuckDB oracle's row count; a
     row that failed the hash check fails in every run.

Warm figures take each query at its fastest warm pass, as graft.Bench
takes the minimum of its passes: the host's noise only ever slows a
query down, and the early passes, still slowed by compilation, stay out
of the figure.

--trace 0 prints the end-to-end metrics; --trace 1 attaches Spark's
listeners to the cold pass and to half the warm passes and prints the
per-layer metrics, with the spans written to .bench_build/run/spans.jsonl.

Exit status is 0 only when a result was printed.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SETUP_SAMPLES = 3
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark installation: set SPARK_HOME")
    return home


def heap():
    """The Tier-1 sizing: half the machine's memory, 2 to 8 GiB."""
    kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
              if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


class Bench:
    def __init__(self, root):
        self.root = root
        self.out = root / ".bench_build"
        self.sbt = self.out / "sbt"
        self.run_dir = self.out / "run"
        self.cwd = self.run_dir / "cwd"
        self.stage = self.run_dir / "stage"
        self.spark = spark_home()
        self.cpus = os.cpu_count() or 1

    # -- build --------------------------------------------------------------
    def sources(self):
        src = self.root / "src" / "main" / "scala"
        if not (src / "graft" / "SparkEntry.scala").is_file():
            die(f"no graft sources under {src}: run from a graft checkout")
        files = {}
        for p in sorted(src.rglob("*.scala")):
            files[Path("graft") / p.relative_to(src)] = p.read_text()
        # The sources hard-code an absolute directory for their on-disk
        # stagings. Move it inside the checkout. It stays absolute:
        # some stagings are read through symbolic links.
        roots = {m.group(1) for text in files.values()
                 for m in re.finditer(r'"(/[^"\s]*)/graft_\w+"', text)}
        for r in roots:
            files = {k: v.replace(f"{r}/graft_", f"{self.stage}/graft_")
                     for k, v in files.items()}
        for p in sorted((HERE / "harness").glob("*.scala")):
            files[Path("harness") / p.name] = p.read_text()
        files[Path("build.sbt")] = (HERE / "build.sbt").read_text()
        files[Path("project/build.properties")] = \
            (HERE / "project" / "build.properties").read_text()
        return files

    def build(self):
        files = self.sources()
        h = hashlib.sha256()
        for k in sorted(files):
            h.update(str(k).encode() + b"\0" + files[k].encode() + b"\0")
        self.stamp = h.hexdigest()
        classes = self.sbt / "target" / "scala-2.13" / "classes"
        stamp_file = self.sbt / "STAMP"
        if stamp_file.exists() and stamp_file.read_text() == self.stamp \
                and classes.is_dir():
            return classes
        log("building graft and the harness")
        for d in ("graft", "harness"):
            shutil.rmtree(self.sbt / d, ignore_errors=True)
        for rel, text in files.items():
            (self.sbt / rel).parent.mkdir(parents=True, exist_ok=True)
            (self.sbt / rel).write_text(text)
        # sbt's own state (boot, global base, temporary files) stays in
        # the checkout too; dependencies resolve offline from the cache.
        tmp = self.out / "sbt-tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        opts = [o for o in os.environ.get("SBT_OPTS", "").split()
                if not o.startswith("-Djava.io.tmpdir=")]
        opts += ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                 f"-Dsbt.global.base={self.out / 'sbt-global'}",
                 f"-Dsbt.boot.directory={self.out / 'sbt-boot'}",
                 f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
        env = dict(os.environ, SPARK_HOME=self.spark, COURSIER_MODE="offline",
                   SBT_OPTS=" ".join(opts), JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        with open(self.out / "build.log", "w") as lf:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=self.sbt, env=env, stdout=lf, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL).returncode
        if rc != 0:
            self.tail(self.out / "build.log")
            die(f"build failed (rc {rc})")
        stamp_file.write_text(self.stamp)
        return classes

    # -- JVM ----------------------------------------------------------------
    def tail(self, path, n=40):
        try:
            lines = path.read_text(errors="replace").splitlines()[-n:]
        except OSError:
            return
        for line in lines:
            print(f"  {line[:300]}", file=sys.stderr)

    def jvm(self, mode, classes, out, **opts):
        """Runs the harness in a fresh JVM; returns its JSON result."""
        tmp = self.run_dir / "tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        self.cwd.mkdir(parents=True, exist_ok=True)
        out.unlink(missing_ok=True)
        cmd = ["java", *ADD_OPENS, f"-Xmx{heap()}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
               f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={self.cwd / 'warehouse'}",
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-cp", f"{classes}:{self.spark}/jars/*",
               "org.apache.spark.sql.perfbench.Harness",
               "--mode", mode, "--cpus", str(self.cpus), "--out", str(out)]
        for k, v in opts.items():
            cmd += [f"--{k.replace('_', '-')}", str(v)]
        logf = self.run_dir / f"{mode}.log"
        t0 = time.monotonic()
        with open(logf, "w") as lf:
            cmd += ["--launch-ns", str(time.time_ns())]
            rc = subprocess.run(cmd, cwd=self.cwd, stdout=lf,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL).returncode
        if rc != 0 or not out.exists():
            self.tail(logf)
            die(f"harness --mode {mode} failed (rc {rc})")
        log(f"harness --mode {mode}: {time.monotonic() - t0:.1f} s")
        return json.loads(out.read_text())

    def prime(self, classes, workloads):
        """Once per build: stage, and hash-check, every workload row on
        its workload's corpus.

        Returns the registry catalog (module and oracle flag per name)
        and, per corpus, the DuckDB row count of each row and the rows
        that failed.
        """
        by_corpus = {}
        for w in workloads.values():
            by_corpus.setdefault(w["corpus"], set()).update(w["names"])
        plan = sorted((c, sorted(ns)) for c, ns in by_corpus.items())
        key = hashlib.sha256(json.dumps([self.stamp, plan]).encode()).hexdigest()
        marker = self.run_dir / "prime.json"
        if marker.exists():
            saved = json.loads(marker.read_text())
            if saved.get("key") == key:
                return saved["catalog"], saved["counts"], saved["failed"]
        log("priming the stagings")
        marker.unlink(missing_ok=True)
        shutil.rmtree(self.stage, ignore_errors=True)
        catalog, counts, failed = {}, {}, {}
        for c, names in plan:
            corpus = HERE / "corpus" / c
            names_file = self.run_dir / "prime-names.txt"
            names_file.write_text("\n".join(names) + "\n")
            verify_out = self.run_dir / f"verify-{c}"
            shutil.rmtree(verify_out, ignore_errors=True)
            catalog = self.jvm("prime", classes, self.run_dir / "prime-out.json",
                               names=names_file, verify_out=verify_out,
                               corpus=corpus)["catalog"]
            checked = [n for n in names if catalog.get(n, {}).get("oracle")]
            counts[c], failed[c] = self.hash_check(corpus, verify_out, checked)
        marker.write_text(json.dumps({"key": key, "catalog": catalog,
                                      "counts": counts, "failed": failed}))
        return catalog, counts, failed

    # -- correctness ----------------------------------------------------------
    def retarget(self, sql, corpus):
        """Points a staged-file glob in oracle SQL at this corpus's stage.

        Oracle SQL may read a staging by path (wc_wordcount_text reads the
        staged text). The path embeds the source directory the oracle was
        written for; rewrite it to this corpus's committed version.
        """
        key = hashlib.md5(str(corpus).encode()).hexdigest()[:8]

        def sub(m):
            d = self.stage / m.group(1) / f"{corpus.name}_{key}"
            cur = d / "_CURRENT"
            return str(d / (cur.read_text().strip() if cur.exists() else "v-*"))
        return re.sub(re.escape(str(self.stage)) +
                      r"/(graft_\w+)/[^/'\"]+_[0-9a-f]{8}/v-(?:\d+|\*)",
                      sub, sql)

    def hash_check(self, corpus, verify_out, oracle_names):
        """tools/check_oracle.py over the workload's oracle rows only.

        Returns ({name: duckdb row count}, [failed names]).
        """
        # graft.Verify writes the whole registry's oracle SQL, and
        # check_oracle.py reports every row it names but cannot find.
        sql = json.loads((verify_out / "oracle_sql.json").read_text())
        (verify_out / "oracle_sql.json").write_text(json.dumps(
            {n: self.retarget(sql[n], corpus) for n in oracle_names}))
        # DuckDB spills to .tmp under its working directory.
        res = subprocess.run(
            [sys.executable, str(self.root / "tools" / "check_oracle.py"),
             str(corpus), str(verify_out)], cwd=self.run_dir,
            capture_output=True, text=True, stdin=subprocess.DEVNULL)
        (self.run_dir / f"check_oracle-{corpus.name}.log").write_text(
            res.stdout + res.stderr)
        counts, failed = {}, []
        for line in res.stdout.splitlines():
            m = re.match(r"PASS (\S+) \((\d+) rows\)", line)
            if m:
                counts[m.group(1)] = int(m.group(2))
                continue
            m = re.match(r"(?:FAIL|MISSING spark output:) (\w+)", line)
            if m:
                failed.append(m.group(1))
            m = re.match(r"FAIL (\w+): rows duck=(\d+)", line)
            if m:
                counts[m.group(1)] = int(m.group(2))
        missing = [n for n in oracle_names if n not in counts and n not in failed]
        if missing:
            log(f"check_oracle.py reported nothing for {missing}")
        return counts, failed + missing


def best_pass(passes, field):
    """The sum over queries of each query's minimum over `passes`."""
    best = {}
    for p in passes:
        for s in p["samples"]:
            best[s[0]] = min(best.get(s[0], s[field]), s[field])
    return sum(best.values())


def end_to_end(res, setups):
    log(f"{len(res['warm'])} warm passes")
    return {
        "setup_s": statistics.median(setups),
        "cold_pass_s": sum(s[1] for s in res["cold"]["samples"]),
        "warm_pass_s": best_pass(res["warm"], 1),
        "cpu_per_pass_s": best_pass(res["warm"], 3),
        "live_heap_mb": res["live_heap_mb"],
    }


def per_layer(res, cpus):
    """Means over the traced warm passes, plus cold-pass and run figures."""
    traced = [p for p in res["warm"] if p["traced"]]
    plain = [p for p in res["warm"] if not p["traced"]]
    keys = {k for p in traced for k in p["layers"]}
    m = {k: statistics.mean(p["layers"].get(k, 0.0) for p in traced)
         for k in keys}
    m["exec.slot_busy_frac"] = (m["exec.task_run_s"] / (m["exec.job_s"] * cpus)
                                if m["exec.job_s"] > 0 else 0.0)
    m["trace.overhead_frac"] = best_pass(traced, 1) / best_pass(plain, 1) - 1
    for k, v in res["fills_s"].items():
        m[f"fill.{k}_s"] = v
    m["codegen.fallbacks"] = float(res["codegen_fallbacks"])
    m["jvm.gc_s"] = statistics.mean(p["gc_s"] for p in traced)
    m["jvm.jit_s"] = res["cold"]["jit_s"]
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    m["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((Path.cwd() / "BENCHMARK.json").read_text())
    declared = [spec["end_to_end"], spec["per_layer"]]
    workloads = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in workloads:
        die(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    names = workloads[a.workload]["names"]
    corpus_name = workloads[a.workload]["corpus"]
    b = Bench(Path.cwd())
    b.sources()  # fails fast outside a graft checkout
    b.run_dir.mkdir(parents=True, exist_ok=True)
    # Every staging root is shared, so runs must not overlap.
    lock = open(b.out / "lock", "w")
    fcntl.flock(lock, fcntl.LOCK_EX)

    classes = b.build()
    catalog, oracle_counts, hash_failed = b.prime(classes, workloads)
    oracle_counts, hash_failed = oracle_counts[corpus_name], hash_failed[corpus_name]
    unknown = [n for n in names if n not in catalog]
    if unknown:
        die(f"not in the registry: {unknown}")
    # A row without an oracle could only be checked against itself.
    unchecked = [n for n in names if not catalog[n]["oracle"]]
    if unchecked:
        die(f"rows without a DuckDB oracle: {unchecked}")

    setups = [b.jvm("setup", classes, b.run_dir / "setup-out.json")["setup_s"]
              for _ in range(0 if a.trace else SETUP_SAMPLES - 1)]
    names_file = b.run_dir / "names.txt"
    names_file.write_text("\n".join(names) + "\n")
    res = b.jvm("run", classes, b.run_dir / "run-out.json",
                names=names_file, corpus=HERE / "corpus" / corpus_name,
                seed=a.seed, seconds=a.seconds, trace=a.trace,
                spans=b.run_dir / "spans.jsonl")
    setups.append(res["setup_s"])

    # Correctness: every timed count, and this build's hash check.
    passes = [res["cold"]] + res["warm"]
    attempted = failed = 0
    for p in passes:
        for name, _, count, _ in p["samples"]:
            attempted += 1
            want = oracle_counts.get(name)
            if count < 0 or count != want:
                failed += 1
                log(f"wrong count: {name} gave {count}, expected {want}")
    hash_failed = [n for n in names if n in hash_failed]
    for n in hash_failed:
        log(f"hash check failed: {n}")
    attempted += len(names)
    failed += len(hash_failed)

    if a.trace:
        values = per_layer(res, b.cpus)
    else:
        values = end_to_end(res, setups)
    # Exactly the metrics BENCHMARK.json declares for this kind of run; a
    # module with no row in the workload reads 0.
    metrics = {d["name"]: {"value": values.get(d["name"], 0.0), "unit": d["unit"]}
               for d in declared[a.trace]}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)


if __name__ == "__main__":
    main()
