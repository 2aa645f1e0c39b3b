"""Deterministic apidb dump generator: seed + scale in, `pg_dump -Fc` out.

Starts a throwaway PostgreSQL server, runs gen/apidb.sql with the given
seed and scale, writes the database with `pg_dump -Fc`, stops the server
and removes its data directory. The SQL prints the element counts every
planet output must hold; `generate` returns them.

PostgreSQL refuses to run as root, so when this runs as root the server
runs as the `postgres` user. Its data directory and socket live in a
private directory under the system temp directory, which that user can
reach; the caller's directory may be closed to it.

Run alone:  python3 perfbench/dumpgen.py <out.dmp> --seed 1 --scale 1
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SQL = os.path.join(HERE, "gen", "apidb.sql")
PG_USER = "bench"


def _pg_bin(name):
    """PostgreSQL server binaries, which are not always on PATH."""
    found = shutil.which(name)
    if found:
        return found
    for root in sorted(os.listdir("/usr/lib/postgresql"), reverse=True) \
            if os.path.isdir("/usr/lib/postgresql") else []:
        cand = os.path.join("/usr/lib/postgresql", root, "bin", name)
        if os.path.exists(cand):
            return cand
    raise RuntimeError(f"PostgreSQL binary {name} not found")


def _run(cmd):
    """Run cmd; return its stdout, or raise with its stderr."""
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        raise RuntimeError(f"{os.path.basename(cmd[0])} exited {res.returncode}: "
                           + res.stderr[-2000:])
    return res.stdout


def generate(out_path, seed, scale):
    """Write the dump for (seed, scale) to out_path; return the counts."""
    prefix = ["runuser", "-u", "postgres", "--"] if os.geteuid() == 0 else []
    work = tempfile.mkdtemp(prefix="perfbench-pg-")
    if prefix:
        shutil.chown(work, "postgres")
    data = os.path.join(work, "data")
    server = None
    try:
        _run(prefix + [
            _pg_bin("initdb"), "-D", data, "-A", "trust", "-U", PG_USER,
            "--no-sync", "-E", "UTF8", "--locale=C"])
        log = open(os.path.join(work, "server.log"), "wb")
        server = subprocess.Popen(prefix + [
            _pg_bin("postgres"), "-D", data, "-k", work,
            "-c", "listen_addresses=", "-c", "fsync=off",
            "-c", "synchronous_commit=off", "-c", "full_page_writes=off",
            "-c", "shared_buffers=128MB", "-c", "work_mem=64MB"],
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        log.close()
        conn = ["-h", work, "-U", PG_USER, "-d", "postgres"]
        deadline = time.time() + 60
        while subprocess.run(["pg_isready", "-q"] + conn).returncode != 0:
            if server.poll() is not None or time.time() > deadline:
                raise RuntimeError("PostgreSQL did not start: " +
                                   open(os.path.join(work, "server.log")).read())
            time.sleep(0.05)
        out = _run(["psql", "-X", "-q", "-v", f"seed={int(seed)}",
                    "-v", f"scale={float(scale)}", "-f", SQL] + conn)
        counts = {}
        for line in out.splitlines():
            k, _, v = line.partition("\t")
            if v:
                counts[k] = int(v)
        _run(["pg_dump", "-Fc", "-f", out_path] + conn)
        return counts
    finally:
        if server is not None:
            # waits until the server has exited and its children with it
            subprocess.run(prefix + [_pg_bin("pg_ctl"), "stop", "-D", data, "-m", "fast",
                                     "-w", "-t", "30"], capture_output=True)
            try:
                server.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(server.pid, signal.SIGKILL)  # runuser and the server
                server.wait()
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    t0 = time.perf_counter()
    counts = generate(a.out, a.seed, a.scale)
    print(f"{a.out}: {counts} in {time.perf_counter() - t0:.2f} s", file=sys.stderr)


if __name__ == "__main__":
    main()
