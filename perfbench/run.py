#!/usr/bin/env python3
"""End-to-end benchmark of the Prohap / Provar / Corpus CLI code paths.

Run from the repository root:

    python3 perfbench/run.py --workload prohap_cohort --seed 1 \
        --seconds 50 --trace 0

Builds the program and the benchmark package (perfbench/build.sbt) once
per source tree, generates the workload's inputs from the seed (cached on
disk), then runs timed passes, each in a fresh JVM, until --seconds have
been measured. Every pass's outputs are checked. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics (medians over the passes).
--trace 1 runs one untraced and one traced pass and reports the per-layer
metrics of the traced one. A human-readable summary goes to stderr.
See perfbench/README.md for the workloads, metrics and checks.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SEED = 1
THREADS = max(1, min(4, os.cpu_count() or 1))
HEAP = "2g"
SETUPS = 3  # set-ups per run: every pass's, plus set-up-only JVMs

# Default sizes per workload (the generator's key=value arguments).
WORKLOADS = {
    "prohap_cohort": {"samples": "50", "transcripts": "100", "vpt": "8",
                      "af_skew": "3", "overlap_share": "0.02"},
    "corpus_neardup": {"docs": "2000", "near_share": "0.2",
                       "words": "5000"},
    "provar_bcf": {"samples": "8", "transcripts": "2000", "vpt": "8",
                   "af_skew": "3", "overlap_share": "0.02"},
}

LAYERS = ["sources.vcf_decode", "sources.vcf_normalize",
          "sources.annotation", "operators.interval_join",
          "queries.haplotypes", "operators.proteins", "cli.sink",
          "corpus.read_clean", "operators.dedup_pairs",
          "operators.dedup_clusters", "corpus.resolve_sink"]
LAYER_METRICS = [("wall_s", "s"), ("rows_out", "count"), ("stages", "count"),
                 ("tasks", "count"), ("core_util", "ratio"),
                 ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                 ("fetch_wait_s", "s"), ("gc_s", "s"),
                 ("failed_tasks", "count")]

AMINO = set("ACDEFGHIKLMNPQRSTVWYX*")  # "*": a translated stop codon
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_hash(root):
    """Digest of every file the build reads: the program and the bench."""
    files = []
    for pattern in ("build.sbt", "project/build.properties",
                    "src/main/**/*", "perfbench/build.sbt",
                    "perfbench/project/build.properties",
                    "perfbench/src/**/*"):
        files += [f for f in glob.glob(os.path.join(root, pattern),
                                       recursive=True) if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile once per source tree; returns the runtime classpath."""
    key = source_hash(root)
    stamp = os.path.join(work, "classpath-%s.txt" % key)
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip(), key
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    logf = os.path.join(work, "build.log")
    with open(logf, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=850).returncode
    with open(logf) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and
          not l.startswith("[")]
    if rc != 0 or not cp:
        log("\n".join(lines[-40:]))
        raise SystemExit("perfbench: build failed (see %s)" % logf)
    log("perfbench: built in %.1f s" % (time.time() - t0))
    with open(stamp, "w") as fh:
        fh.write(cp[-1])
    return cp[-1], key


def java(cp, work, main, args, log_path, timeout=170):
    """Run one JVM to completion; returns its exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main] + args
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -9


# ----------------------------------------------------------------- inputs

def sizes_for(workload, overrides):
    sizes = dict(WORKLOADS[workload])
    for kv in overrides:
        k, _, v = kv.partition("=")
        if k not in sizes:
            raise SystemExit("perfbench: unknown size %r for %s" %
                             (k, workload))
        sizes[k] = v
    return sizes


def inputs(cp, work, workload, seed, sizes):
    """Generated inputs for (workload, seed, sizes), cached on disk and
    keyed on the generator's source too."""
    with open(os.path.join(HERE, "src", "main", "scala", "graft",
                           "perfbench", "Gen.scala"), "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()
    key = hashlib.sha256(json.dumps(
        [workload, seed, sorted(sizes.items()), gen]).encode()
    ).hexdigest()[:16]
    d = os.path.join(work, "inputs", "%s-%d-%s" % (workload, seed, key))
    if os.path.isfile(os.path.join(d, "manifest.json")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    rc = java(cp, work, "graft.perfbench.Gen",
              [workload, str(seed), d, "threads=%d" % THREADS] +
              ["%s=%s" % kv for kv in sorted(sizes.items())],
              os.path.join(work, "gen.log"))
    if rc != 0 or not os.path.isfile(os.path.join(d, "manifest.json")):
        raise SystemExit("perfbench: input generation failed (gen.log)")
    log("perfbench: generated %s seed %d in %.1f s (not measured)" %
        (workload, seed, time.time() - t0))
    return d


# ----------------------------------------------------------------- checks

def text_lines(pattern):
    lines = []
    for f in sorted(glob.glob(pattern)):
        with open(f, encoding="utf-8", errors="replace") as fh:
            lines += fh.read().splitlines()
    return lines


def fasta_records(path):
    """(header, sequence) pairs of a Spark-written FASTA directory."""
    recs, header, seq = [], None, []
    for line in text_lines(os.path.join(path, "part-*")):
        if line.startswith(">"):
            if header is not None:
                recs.append((header, "".join(seq)))
            header, seq = line, []
        else:
            seq.append(line)
    if header is not None:
        recs.append((header, "".join(seq)))
    return recs


def tsv_rows(path):
    """Header and data rows of a Spark-written TSV directory."""
    header, rows = None, []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, encoding="utf-8", errors="replace") as fh:
            lines = fh.read().splitlines()
        if lines:
            header = lines[0]
            rows += lines[1:]
    return header, rows


def digest(items):
    """Order-independent digest: sha256 over the sorted items."""
    h = hashlib.sha256()
    for it in sorted(items):
        h.update(it.encode("utf-8", "replace"))
        h.update(b"\n")
    return h.hexdigest()


def check_genomic(out, inp, stem):
    """Digest + generator invariants (d) of a Prohap/Provar output dir.
    Returns (digest, list of problems)."""
    problems = []
    header, rows = tsv_rows(os.path.join(out, stem + ".tsv"))
    fasta = fasta_records(os.path.join(out, stem + ".fasta"))
    cdna = fasta_records(os.path.join(out, stem + "_cdna.fasta"))
    if header is None or not rows:
        problems.append("metadata TSV is empty")
    if not fasta:
        problems.append("protein FASTA is empty")
    planted = set()
    with open(os.path.join(inp, "planted.tsv")) as fh:
        for line in fh:
            vid, tx = line.rstrip("\n").split("\t")
            planted.add((vid, tx))
    if header:
        cols = header.split("\t")
        ti, vi = cols.index("TranscriptID"), cols.index("VCF_IDs")
        for row in rows:
            f = row.split("\t")
            for vid in f[vi].split(";"):
                # Provar ids are <id>:<alt>
                if (vid.split(":")[0], f[ti]) not in planted:
                    problems.append("VCF_IDs entry %r is not planted in %s"
                                    % (vid, f[ti]))
                    break
    for h, s in fasta:
        if not s or not set(s) <= AMINO:
            problems.append("FASTA entry %s has sequence %r" % (h[:60],
                                                               s[:40]))
            break
    d = digest([header or ""] + ["tsv\t" + r for r in rows] +
               ["fa\t%s\t%s" % r for r in fasta] +
               ["cdna\t%s\t%s" % r for r in cdna])
    return d, problems


def check_corpus(out, inp):
    problems = []
    with open(os.path.join(inp, "doc_ids.txt")) as fh:
        ids = set(fh.read().split())
    rows = text_lines(os.path.join(out, "corpus_digest.tsv"))
    kept = [r.split("\t")[0] for r in rows]
    if not kept:
        problems.append("corpus output is empty")
    if not set(kept) <= ids:
        problems.append("corpus output holds ids that are not inputs")
    if len(set(kept)) != len(kept):
        problems.append("corpus output repeats a doc_id")
    if len(kept) >= len(ids):
        problems.append("near-dedup removed no document")
    return digest(rows), problems


def check_outputs(workload, out, inp):
    if workload == "corpus_neardup":
        return check_corpus(out, inp)
    return check_genomic(out, inp, "haplo" if workload == "prohap_cohort"
                         else "var")


def golden(workload, seed, sizes):
    """The recorded digest for the default seed and sizes, else None."""
    if seed != DEFAULT_SEED or sizes != WORKLOADS[workload]:
        return None
    with open(os.path.join(HERE, "golden.json")) as fh:
        return json.load(fh).get(workload)


# ------------------------------------------------------------------ passes

def run_pass(cp, work, workload, inp, trace, n):
    """One pass in a fresh JVM; returns its result dict or None."""
    out = os.path.join(work, "out", workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = os.path.join(work, "pass.json")
    if os.path.exists(res):
        os.remove(res)
    rc = java(cp, work, "graft.perfbench.Pass",
              ["run", workload, inp, out, str(THREADS), str(trace), res],
              os.path.join(work, "pass-%d.log" % n))
    if rc != 0 or not os.path.isfile(res):
        log("perfbench: pass %d exited %d (see pass-%d.log)" % (n, rc, n))
        return None, out
    with open(res) as fh:
        return json.load(fh), out


def setup_probe(cp, work):
    res = os.path.join(work, "setup.json")
    if os.path.exists(res):
        os.remove(res)
    rc = java(cp, work, "graft.perfbench.Pass", ["setup", str(THREADS), res],
              os.path.join(work, "setup.log"))
    if rc != 0 or not os.path.isfile(res):
        return None
    with open(res) as fh:
        return json.load(fh)["setup_s"]


def anchor(cp, work, key, root):
    """Check (a), once per source tree: the fixture rows reproduce."""
    stamp = os.path.join(work, "anchor-%s.json" % key)
    if not os.path.isfile(stamp):
        tmp = stamp + ".tmp"
        rc = java(cp, work, "graft.perfbench.Pass",
                  ["anchor", os.path.join(root, "fixtures"), str(THREADS),
                   tmp], os.path.join(work, "anchor.log"),
                  timeout=300)
        if rc != 0 or not os.path.isfile(tmp):
            return ["fixture anchor run failed (anchor.log)"]
        os.replace(tmp, stamp)
    with open(stamp) as fh:
        res = json.load(fh)
    return ["fixture anchor %s does not reproduce" % k
            for k, ok in sorted(res.items()) if not ok]


def decode_parity(cp, work, inp):
    """Check (c), once per generated cohort: Provar on the .vcf.gz and on
    the BCF of the same cohort write the same outputs."""
    stamp = os.path.join(inp, "parity.json")
    if not os.path.isfile(stamp):
        digests = {}
        for wl in ("provar_vcfgz", "provar_bcf"):
            r, out = run_pass(cp, work, wl, inp, 0, 0)
            digests[wl] = check_genomic(out, inp, "var")[0] if r else None
        with open(stamp, "w") as fh:
            json.dump(digests, fh)
    with open(stamp) as fh:
        d = json.load(fh)
    if d["provar_vcfgz"] is None or d["provar_vcfgz"] != d["provar_bcf"]:
        return ["Provar on the .vcf.gz and on the BCF disagree"]
    return []


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[2]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=50)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", action="append", default=[],
                    metavar="KEY=VALUE", help="override a generator size")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise SystemExit("perfbench: no program sources at %s "
                         "(run from the repository root)" % root)
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    cp, key = build(root, work)
    sizes = sizes_for(args.workload, args.size)
    inp = inputs(cp, work, args.workload, args.seed, sizes)
    with open(os.path.join(inp, "manifest.json")) as fh:
        manifest = json.load(fh)

    global_problems = anchor(cp, work, key, root)
    if args.workload == "provar_bcf":
        global_problems += decode_parity(cp, work, inp)
    expected = golden(args.workload, args.seed, sizes)

    results, failed, traced = [], 0, None
    t0 = time.time()
    while True:
        n = len(results) + failed + 1
        p0 = time.time()
        r, out = run_pass(cp, work, args.workload, inp, 0, n)
        problems = list(global_problems)
        if r is None:
            problems.append("pass did not complete")
        else:
            d, probs = check_outputs(args.workload, out, inp)
            log("perfbench: pass %d output digest %s" % (n, d))
            problems += probs
            if expected is not None and d != expected:
                problems.append("output digest %s != golden %s" %
                                (d[:12], expected[:12]))
        if problems:
            failed += 1
            log("perfbench: pass %d FAILED: %s" % (n, "; ".join(problems)))
        else:
            results.append(r)
            log("perfbench: pass %d wall %.3f s setup %.3f s cpu %.1f s "
                "rss %.0f MB | contention: external busy %.2f cores "
                "(steal %.2f), iowait %.2f cores" % (
                    n, r["wall_s"], r["setup_s"], r["cpu_s"],
                    r["peak_rss_mb"], r["ext_busy_cores"], r["steal_cores"],
                    r["iowait_cores"]))
        elapsed = time.time() - t0
        if args.trace or elapsed + (time.time() - p0) > args.seconds:
            break
    attempted = len(results) + failed

    if args.trace:
        r, out = run_pass(cp, work, args.workload, inp, 1, attempted + 1)
        attempted += 1
        problems = list(global_problems)
        if not results:
            problems.append("no untraced pass to compare with")
        elif r is None:
            problems.append("traced pass did not complete")
        else:
            problems += check_outputs(args.workload, out, inp)[1]
            traced = r["trace"]
            spans = os.path.join(work, "trace-%s.json" % args.workload)
            with open(spans, "w") as fh:
                json.dump(traced, fh, indent=1)
            log("perfbench: spans and layer stats written to %s" % spans)
            lsum = sum(v["wall_s"] for v in traced["layers"].values())
            ratio = lsum / traced["total_s"]
            if abs(1 - ratio) > 0.10:
                problems.append("layer self times sum to %.3f of the traced "
                                "total" % ratio)
        if problems:
            failed += 1
            log("perfbench: traced pass FAILED: %s" % "; ".join(problems))
            traced = None

    metrics = {}
    if args.trace and traced is not None:
        untraced = statistics.median(r["wall_s"] for r in results)
        for layer in LAYERS:
            got = traced["layers"].get(layer)
            for m, unit in LAYER_METRICS:
                metrics["%s.%s" % (layer, m)] = {
                    "value": got[m] if got else 0, "unit": unit}
        metrics["trace.total_s"] = {"value": traced["total_s"], "unit": "s"}
        metrics["trace.overhead_s"] = {
            "value": traced["total_s"] - untraced, "unit": "s"}
        metrics["trace.layer_sum_ratio"] = {"value": ratio, "unit": "ratio"}
        log("perfbench: traced total %.3f s, untraced median wall %.3f s, "
            "overhead %.3f s, layer self times sum to %.3f of the total" %
            (traced["total_s"], untraced, traced["total_s"] - untraced,
             ratio))
        for layer in LAYERS:
            got = traced["layers"].get(layer)
            log("  %-26s %s" % (layer, "absent" if got is None else
                                " ".join("%s=%.4g" % (m, got[m])
                                         for m, _ in LAYER_METRICS)))
    elif not args.trace and results:
        setups = [r["setup_s"] for r in results]
        for _ in range(SETUPS - len(setups)):
            s = setup_probe(cp, work)
            if s is not None:
                setups.append(s)
        walls = [r["wall_s"] for r in results]
        wall = statistics.median(walls)
        series = {
            "setup_s": (setups, "s"),
            "wall_s": (walls, "s"),
            "records_per_s": ([manifest["input_records"] / w for w in walls],
                              "records/s"),
            "cpu_s": ([r["cpu_s"] for r in results], "s"),
            "peak_rss_mb": ([r["peak_rss_mb"] for r in results], "MB"),
        }
        for name, (vals, unit) in series.items():
            metrics[name] = {"value": statistics.median(vals), "unit": unit}
            q1, q3 = quartiles(vals)
            log("perfbench: %-14s median %.4f %s  q1 %.4f  q3 %.4f  n=%d" %
                (name, statistics.median(vals), unit, q1, q3, len(vals)))
        log("perfbench: error_rate %.4f ratio (%d of %d passes failed); "
            "records per pass %d; median wall %.3f s" %
            (failed / attempted, failed, attempted,
             manifest["input_records"], wall))

    result = {"correct": failed == 0 and bool(metrics),
              "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
