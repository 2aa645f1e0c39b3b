#!/usr/bin/env python3
"""Pinned per-query bench anchors + comparator.

Round 9's adjudication problem: four same-code archive runs spread
294-337 s with a DIFFERENT set of flagged queries each time (roaming
host-noise), and the standalone anchors that settled it lived in
PERF.md prose. This makes the anchor machine-readable and the noise
adjudication a diff:

  generate:  python3 anchors.py generate [--runs 3] [--sf DIR] [--out ANCHORS.json]
      Runs graft.Bench N times (one JVM per run), takes the per-query
      MEDIAN of the N runs (and the layers of each query's median
      run), writes ANCHORS.json with provenance
      (git sha, sf dir, run totals). Median-of-3 full runs is the
      committed baseline; single-run archives are what it replaces.

  compare:   python3 anchors.py compare [--anchors ANCHORS.json] BENCH.json
      Compares a bench JSON line (the driver's BENCH_r{N}.json or a
      fresh anchor file) against the committed anchors. Flags a query
      only when BOTH ratio >= --ratio (default 1.5) AND absolute
      delta >= --abs-sec (default 1.0 s) — sub-second jitter never
      flags. Contiguous EXECUTION-ORDER runs of --window-len (default
      5) queries all >= --window-ratio (default 2.0) are labeled as
      contention WINDOWS ("box, not code" -- r14's driver bench ran 50
      consecutive queries at ~3x across unrelated families; every
      isolate re-ran clean): flags inside a window are reported but do
      not gate. Exit 1 only for ISOLATED flags, so CI gates on the
      code signal.

      Accepts THREE input shapes: a raw graft.Bench JSON line
      ({"queries": {...}}), another anchors file, or the driver's
      BENCH_r{N}.json wrapper ({n, rc, cpus, sf, tail, parsed}) whose
      per-query JSON is embedded in `tail` — the last N chars of sbt
      stdout, so the queries object is usually FRONT-TRUNCATED. In
      that case the visible suffix of queries is compared and the
      absent prefix is reported as a count, not as missing queries
      (round 10's judge had to hand-parse exactly this artifact to
      clear a 7.4x phantom flag on q204).

      When both files carry graft.Bench's per-query `layers`, each
      flagged query also names the layer that grew most: build (frame
      construction), planning (the action's Catalyst analysis,
      optimization and planning) or exec (the rest of the action) — so
      a build-time regression is told apart from a task-time one.

  selftest:  python3 anchors.py selftest
      Fixture-checks the parser on all three input shapes, including
      a front-truncated driver tail. Exit 0 iff all pass.

Flagged queries then get the bench-noise protocol (3x A/B isolates,
same box, both code versions) BEFORE being believed — this file
settles WHAT changed; the protocol settles WHY.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys


def run_bench(sf_dir: str) -> dict:
    """One graft.Bench run; its persisted file (queries and layers)."""
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "bench.json")
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir,
                   SPARK_GRAFT_BENCH_OUT=path)
        out = subprocess.run(
            ["sbt", "-batch", "runMain graft.Bench"],
            capture_output=True, text=True, env=env, check=False)
        if not os.path.exists(path):
            sys.exit(f"graft.Bench wrote no bench file:\n{out.stdout[-2000:]}")
        with open(path) as f:
            return json.load(f)


def git_sha() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                              capture_output=True, text=True).stdout.strip()
    except OSError:
        return "unknown"


def cmd_generate(args) -> int:
    runs = []
    for i in range(args.runs):
        r = run_bench(args.sf)
        print(f"run {i + 1}/{args.runs}: total {r['value']:.1f}s "
              f"({len(r['queries'])} queries)", flush=True)
        runs.append(r)
    names = sorted(set().union(*(r["queries"].keys() for r in runs)))
    medians = {n: round(statistics.median(
        [r["queries"][n] for r in runs if n in r["queries"]]), 3)
        for n in names}
    # each query's layers come from its median-wall run
    layers = {}
    for n in names:
        timed = sorted((r["queries"][n], i) for i, r in enumerate(runs)
                       if n in r["queries"] and n in r.get("layers", {}))
        if timed:
            layers[n] = runs[timed[len(timed) // 2][1]]["layers"][n]
    doc = {
        "git": git_sha(),
        "sf": args.sf,
        "runs": args.runs,
        "run_totals_sec": [round(r["value"], 1) for r in runs],
        "queries": medians,
        "layers": layers,
    }
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(medians)} anchors to {args.out} "
          f"(totals {doc['run_totals_sec']})")
    return 0


# Per-query entry inside a (possibly truncated) JSON fragment: every
# gate query is named q<digits>_..., which is what keeps "value": 314.2
# and the wrapper's own numeric fields out. A front-truncated first
# entry ('3_chunk_neardup":0.73') has no opening quote, so the regex
# skips it by construction.
_QUERY_RE = re.compile(r'"(q\d+[A-Za-z0-9_]*)"\s*:\s*'
                       r'([0-9]+(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?)')


def extract_queries(doc):
    """-> (queries: dict, truncated: bool). Handles a raw bench line,
    an anchors file, and the driver's {n, rc, sf, tail, parsed} wrapper
    (front-truncated tail)."""
    if isinstance(doc.get("queries"), dict):
        return doc["queries"], False
    parsed = doc.get("parsed")
    if isinstance(parsed, dict) and isinstance(parsed.get("queries"), dict):
        return parsed["queries"], False
    tail = doc.get("tail")
    if isinstance(tail, str):
        qs = {m.group(1): float(m.group(2))
              for m in _QUERY_RE.finditer(tail)}
        if not qs:
            sys.exit(f"driver wrapper tail holds no query timings "
                     f"(rc={doc.get('rc')}, tail={tail[-300:]!r})")
        # the tail is the LAST chunk of stdout: whatever it holds is a
        # contiguous SUFFIX of the queries object, truncated at front
        return qs, True
    sys.exit("unrecognized bench JSON: no 'queries', no parsed wrapper, "
             "no 'tail' — keys: " + ", ".join(sorted(doc)))


def extract_layers(doc):
    """Per-query layer fields of a bench or anchors file, or {}."""
    for d in (doc, doc.get("parsed")):
        if isinstance(d, dict) and isinstance(d.get("layers"), dict):
            return d["layers"]
    return {}


def grown_layer(base_layers, new_layers, name):
    """' — grew most in <layer> (+N s)' when both sides have the query's
    layers, else ''. The layers are build, planning (the action's
    Catalyst phases) and exec (the rest of the action)."""
    if name not in base_layers or name not in new_layers:
        return ""

    def split(f):
        planning = f["analysis_s"] + f["optimization_s"] + f["planning_s"]
        return {"build": f["build_s"], "planning": planning,
                "exec": f["exec_s"] - planning}

    b, n = split(base_layers[name]), split(new_layers[name])
    layer = max(b, key=lambda k: n[k] - b[k])
    return f" — grew most in {layer} ({n[layer] - b[layer]:+.2f}s)"


def find_windows(order, ratio_of, window_ratio, window_len):
    """Contiguous runs (execution order) of >= window_len queries all
    at >= window_ratio vs anchors. A run that long spanning adjacent
    EXECUTION indices — typically unrelated query families — is box
    contention during that wall-clock span, not a code regression
    (r14's driver bench: 50 consecutive queries at ~3x across token /
    ANN / script families; every isolate re-ran at <=1x)."""
    windows, run = [], []
    for n in order:
        if ratio_of[n] >= window_ratio:
            run.append(n)
        else:
            if len(run) >= window_len:
                windows.append(run)
            run = []
    if len(run) >= window_len:
        windows.append(run)
    return windows


def cmd_compare(args) -> int:
    with open(args.anchors) as f:
        anchors = json.load(f)
    with open(args.bench) as f:
        bench = json.load(f)
    new, truncated = extract_queries(bench)
    base = anchors["queries"]
    base_layers, new_layers = extract_layers(anchors), extract_layers(bench)
    # insertion order of the bench queries object IS execution order
    # (the raw line, the anchors file, and the driver-tail regex all
    # preserve it) — that adjacency is what window adjudication needs;
    # Bench's `starts` offsets corroborate but are not required
    order = [n for n in new if n in base and base[n] > 0]
    ratio_of = {n: new[n] / base[n] for n in order}
    windows = find_windows(order, ratio_of,
                           args.window_ratio, args.window_len)
    in_window = {n for w in windows for n in w}
    flagged, improved, added, removed = [], [], [], []
    for name in sorted(set(base) | set(new)):
        if name not in base:
            added.append(name)
            continue
        if name not in new:
            removed.append(name)
            continue
        b, n = base[name], new[name]
        ratio = n / b if b > 0 else float("inf")
        if ratio >= args.ratio and (n - b) >= args.abs_sec:
            flagged.append((name, b, n, ratio))
        elif 1 / ratio >= args.ratio and (b - n) >= args.abs_sec:
            improved.append((name, b, n, ratio))
    windowed = [f for f in flagged if f[0] in in_window]
    isolated = [f for f in flagged if f[0] not in in_window]
    for i, w in enumerate(windows, 1):
        med = statistics.median(ratio_of[n] for n in w)
        print(f"WINDOW {i}: {len(w)} consecutive queries "
              f"{w[0]}..{w[-1]} all >= {args.window_ratio}x "
              f"(median {med:.2f}x) — box, not code; "
              f"isolate before belief")
    for name, b, n, r in sorted(isolated, key=lambda x: -x[3]):
        print(f"SLOWER  {name}: {b:.2f}s -> {n:.2f}s ({r:.2f}x)"
              + grown_layer(base_layers, new_layers, name))
    for name, b, n, r in sorted(windowed, key=lambda x: -x[3]):
        print(f"slower-in-window  {name}: {b:.2f}s -> {n:.2f}s "
              f"({r:.2f}x)" + grown_layer(base_layers, new_layers, name))
    for name, b, n, r in sorted(improved, key=lambda x: x[3]):
        print(f"faster  {name}: {b:.2f}s -> {n:.2f}s ({r:.2f}x)")
    if added:
        print(f"new queries (no anchor): {', '.join(added)}")
    if removed and truncated:
        # front-truncated driver tail: the absent prefix is a length
        # limit of the artifact, not missing queries
        print(f"(driver tail front-truncated: {len(removed)} anchored "
              f"queries not visible, {len(new)} compared)")
    elif removed:
        print(f"anchored but absent: {', '.join(removed)}")
    tot_b = sum(v for k, v in base.items() if k in new)
    tot_n = sum(v for k, v in new.items() if k in base)
    ncommon = len(set(base) & set(new))
    if ncommon == 0 or tot_b <= 0:
        print("no common queries between anchors and bench input — "
              "nothing to compare")
        return 1
    print(f"common-query total: {tot_b:.1f}s anchor -> {tot_n:.1f}s "
          f"({tot_n / tot_b:.2f}x) over {ncommon} queries; "
          f"{len(isolated)} flagged (>= {args.ratio}x and "
          f">= {args.abs_sec}s), {len(windowed)} more inside "
          f"contention windows")
    if isolated:
        print("flagged queries need the bench-noise protocol "
              "(3x A/B isolates) before belief — see PERF.md")
    return 1 if isolated else 0


def cmd_selftest(_args=None) -> int:
    import tempfile
    fails, total = [], [0]

    def check(name, cond):
        total[0] += 1
        print(("ok  " if cond else "FAIL") + f" {name}")
        if not cond:
            fails.append(name)

    # 1. raw bench line
    q, t = extract_queries(
        {"metric": "total", "value": 3.2, "unit": "sec",
         "queries": {"q01_scan": 1.0, "q204_cdc": 2.2}, "sf": "sf0.1"})
    check("raw bench line", q == {"q01_scan": 1.0, "q204_cdc": 2.2} and not t)
    # 2. anchors file shape (queries key present)
    q, t = extract_queries({"git": "abc", "queries": {"q01_scan": 1.0}})
    check("anchors file", q == {"q01_scan": 1.0} and not t)
    # 3. driver wrapper, parsed populated
    q, t = extract_queries(
        {"n": 10, "rc": 0, "tail": "…",
         "parsed": {"value": 3.0, "queries": {"q01_scan": 1.5}}})
    check("driver wrapper (parsed)", q == {"q01_scan": 1.5} and not t)
    # 4. driver wrapper, parsed null, FRONT-TRUNCATED tail — the
    # BENCH_r10.json shape verbatim: entry cut mid-name, trailing sbt
    # noise, a non-query "value" field that must not be captured
    tail = ('3_chunk_neardup":0.734163966,"q204_cdc_replay":3.497,'
            '"q250_robots_eval":1.668662061},"failed":[],'
            '"sf":"/root/testdata/sf0.1"}\n'
            '[success] Total time: 640 s (10:40), completed Aug 15, 2026\n')
    q, t = extract_queries(
        {"n": 10, "rc": 0, "cpus": 32, "sf": 0.1, "tail": tail,
         "parsed": None})
    check("driver wrapper (truncated tail)",
          q == {"q204_cdc_replay": 3.497, "q250_robots_eval": 1.668662061}
          and t)
    # 5. end-to-end compare on the wrapper: one flagged (exit 1), one
    # clean (exit 0), disjoint names (exit 1, no ZeroDivisionError)
    with tempfile.TemporaryDirectory() as d:
        anch = os.path.join(d, "ANCHORS.json")
        with open(anch, "w") as f:
            json.dump({"queries": {"q204_cdc_replay": 3.5,
                                   "q250_robots_eval": 1.7,
                                   "q01_scan": 0.4}}, f)

        def run(tail_json, **kw):
            bench = os.path.join(d, "bench.json")
            with open(bench, "w") as f:
                json.dump({"n": 1, "rc": 0, "tail": tail_json,
                           "parsed": None}, f)
            ns = argparse.Namespace(bench=bench, anchors=anch,
                                    ratio=kw.get("ratio", 1.5),
                                    abs_sec=kw.get("abs_sec", 1.0),
                                    window_ratio=kw.get("window_ratio", 2.0),
                                    window_len=kw.get("window_len", 5))
            return cmd_compare(ns)

        clean = run('neardup":0.73,"q204_cdc_replay":3.497,'
                    '"q250_robots_eval":1.6},"failed":[]}\n[success]\n')
        check("compare wrapper clean -> exit 0", clean == 0)
        flagged = run('neardup":0.73,"q204_cdc_replay":23.5,'
                      '"q250_robots_eval":1.6},"failed":[]}\n[success]\n')
        check("compare wrapper flagged -> exit 1", flagged == 1)
        disjoint = run('"q999_unknown":1.0},"failed":[]}\n')
        check("compare disjoint names -> exit 1 without crash",
              disjoint == 1)
    # 6. contiguous slow window -> labeled box-not-code, exit 0; the
    # same slow queries NON-contiguous -> isolated flags, exit 1; a
    # bench line carrying @-prefixed starts must not confuse timings
    with tempfile.TemporaryDirectory() as d:
        anch = os.path.join(d, "ANCHORS.json")
        qnames = [f"q{i:02d}_w" for i in range(1, 9)]
        with open(anch, "w") as f:
            json.dump({"queries": {n: 2.0 for n in qnames}}, f)

        def run2(times, window_len=3):
            bench = os.path.join(d, "bench.json")
            doc = {"metric": "total", "value": sum(times.values()),
                   "unit": "sec", "queries": times,
                   "starts": {"@" + n: i for i, n in enumerate(times)},
                   "sf": "x"}
            with open(bench, "w") as f:
                json.dump(doc, f)
            ns = argparse.Namespace(bench=bench, anchors=anch,
                                    ratio=1.5, abs_sec=1.0,
                                    window_ratio=2.0,
                                    window_len=window_len)
            return cmd_compare(ns)

        contiguous = {n: (6.0 if i in (2, 3, 4) else 2.0)
                      for i, n in enumerate(qnames)}
        check("compare contiguous window -> exit 0",
              run2(contiguous) == 0)
        scattered = {n: (6.0 if i in (1, 4, 7) else 2.0)
                     for i, n in enumerate(qnames)}
        check("compare scattered slowness -> exit 1",
              run2(scattered) == 1)
    # 7. both files carry layers: a flagged query names the layer that
    # grew most; without layers on one side it names none
    import contextlib
    import io

    def fields(build, plan, exec_s):
        return {"build_s": build, "analysis_s": plan / 4,
                "optimization_s": plan / 4, "planning_s": plan / 2,
                "exec_s": exec_s}

    with tempfile.TemporaryDirectory() as d:
        anch = os.path.join(d, "ANCHORS.json")
        with open(anch, "w") as f:
            json.dump({"queries": {"q01_a": 3.0, "q02_b": 3.0, "q03_c": 3.0},
                       "layers": {"q01_a": fields(1.0, 0.2, 2.0),
                                  "q02_b": fields(1.0, 0.2, 2.0),
                                  "q03_c": fields(1.0, 0.2, 2.0)}}, f)

        def run3(layers):
            bench = os.path.join(d, "bench.json")
            doc = {"queries": {"q01_a": 9.0, "q02_b": 9.0, "q03_c": 9.0}}
            if layers is not None:
                doc["layers"] = layers
            with open(bench, "w") as f:
                json.dump(doc, f)
            ns = argparse.Namespace(bench=bench, anchors=anch, ratio=1.5,
                                    abs_sec=1.0, window_ratio=2.0,
                                    window_len=5)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                cmd_compare(ns)
            return {ln.split()[1].rstrip(":"): ln for ln in
                    buf.getvalue().splitlines() if ln.startswith("SLOWER")}

        # q01 built slower; q02 planned slower (exec_s holds planning);
        # q03 ran its tasks slower
        out = run3({"q01_a": fields(7.0, 0.2, 2.0),
                    "q02_b": fields(1.0, 6.2, 8.0),
                    "q03_c": fields(1.0, 0.2, 8.0)})
        check("compare names the build layer",
              "grew most in build (+6.00s)" in out.get("q01_a", ""))
        check("compare names the planning layer",
              "grew most in planning (+6.00s)" in out.get("q02_b", ""))
        check("compare names the exec layer",
              "grew most in exec (+6.00s)" in out.get("q03_c", ""))
        out = run3(None)
        check("compare without bench layers names no layer",
              len(out) == 3 and not any("grew most" in v
                                         for v in out.values()))
    print(f"selftest: {'PASS' if not fails else 'FAIL'} "
          f"({total[0] - len(fails)}/{total[0]})")
    return 1 if fails else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("generate")
    g.add_argument("--runs", type=int, default=3)
    g.add_argument("--sf", default="/root/testdata/sf0.1")
    g.add_argument("--out", default="ANCHORS.json")
    c = sub.add_parser("compare")
    c.add_argument("bench")
    c.add_argument("--anchors", default="ANCHORS.json")
    c.add_argument("--ratio", type=float, default=1.5)
    c.add_argument("--abs-sec", type=float, default=1.0)
    c.add_argument("--window-ratio", type=float, default=2.0,
                   help="per-query ratio that counts toward a "
                        "contention window (default 2.0)")
    c.add_argument("--window-len", type=int, default=5,
                   help="minimum consecutive executed queries at "
                        ">= window-ratio to call a window (default 5)")
    sub.add_parser("selftest")
    args = p.parse_args()
    if args.cmd == "generate":
        return cmd_generate(args)
    if args.cmd == "selftest":
        return cmd_selftest(args)
    return cmd_compare(args)


if __name__ == "__main__":
    sys.exit(main())
