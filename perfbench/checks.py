"""Output checks of the benchmark.

Planet outputs: each XML file is decompressed and its <node>, <way>,
<relation> and <changeset> elements counted; each PBF file is decoded and
its nodes, ways and relations counted. The counts must equal those the
dump generator computed with SQL from the source database.

Gate outputs: the repository's selfcheck.py compares each query result
written by `graft.Verify` with its DuckDB oracle.
"""
import bz2
import hashlib
import os
import re
import struct
import subprocess
import sys
import zlib
from concurrent.futures import ThreadPoolExecutor

SELFCHECK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "selfcheck.py")
XML_TAGS = {"node": b"<node ", "way": b"<way ", "relation": b"<relation ",
            "changeset": b"<changeset "}


def xml_counts(path):
    """Element counts of a (multistream) bzip2 XML file."""
    with open(path, "rb") as f:
        text = bz2.decompress(f.read())
    return {k: text.count(tag) for k, tag in XML_TAGS.items()}


def _fields(buf):
    """Yield (field number, wire type, value) of a protobuf message."""
    i, n = 0, len(buf)
    while i < n:
        key, i = _varint(buf, i)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _varint(buf, i)
        elif wt == 2:
            ln, i = _varint(buf, i)
            v = buf[i:i + ln]
            i += ln
        elif wt == 1:
            v = buf[i:i + 8]
            i += 8
        elif wt == 5:
            v = buf[i:i + 4]
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, v


def _varint(buf, i):
    shift = result = 0
    while True:
        b = buf[i]
        i += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result, i
        shift += 7


def pbf_counts(path):
    """Node, way and relation counts of an OSM PBF file."""
    counts = {"node": 0, "way": 0, "relation": 0}
    with open(path, "rb") as f:
        data = f.read()
    pos = 0
    while pos < len(data):
        (hlen,) = struct.unpack(">I", data[pos:pos + 4])
        pos += 4
        header = dict((fld, v) for fld, _, v in _fields(data[pos:pos + hlen]))
        pos += hlen
        size = header[3]
        blob = dict((fld, v) for fld, _, v in _fields(data[pos:pos + size]))
        pos += size
        if header[1] != b"OSMData":
            continue
        raw = blob[1] if 1 in blob else zlib.decompress(blob[3])
        for fld, _, group in _fields(raw):
            if fld != 2:  # primitivegroup
                continue
            for gf, _, v in _fields(group):
                if gf == 1:
                    counts["node"] += 1
                elif gf == 2:  # DenseNodes: count the packed ids
                    for df, _, ids in _fields(v):
                        if df == 1:
                            counts["node"] += sum(1 for b in ids if b < 0x80)
                elif gf == 3:
                    counts["way"] += 1
                elif gf == 4:
                    counts["relation"] += 1
    return counts


def expected(kind, fmt, counts):
    """Counts an output must hold, from the generator's SQL. Planet and
    history XML carry the changesets too; PBF carries no changesets."""
    if kind in ("changesets", "discussions"):
        return {"changeset": counts["changesets"], "node": 0, "way": 0, "relation": 0}
    base = "history" if kind == "history" else "planet"
    exp = {e: counts[f"{base}_{e}"] for e in ("node", "way", "relation")}
    if fmt == "xml":
        exp["changeset"] = counts["changesets"]
    return exp


def check_planet(files, counts, log):
    """files: {(kind, 'xml'|'pbf'): path}. Returns (checked, failed)."""
    def one(item):
        (kind, fmt), path = item
        got = xml_counts(path) if fmt == "xml" else pbf_counts(path)
        bad = {k: (got.get(k), v) for k, v in expected(kind, fmt, counts).items()
               if got.get(k) != v}
        return f"{kind}.{fmt}", got, bad

    failed = 0
    with ThreadPoolExecutor(max_workers=4) as ex:
        for name, got, bad in ex.map(one, sorted(files.items())):
            if bad:
                failed += 1
                log(f"[check] FAIL {name}: (got, expected) {bad}")
            else:
                log(f"[check] ok   {name} {got}")
    return len(files), failed


def same_output(a, b):
    """The golden-test rule: PBF files byte-equal, XML files equal after
    bunzip2. A .bz2 file is one bzip2 stream per partition, so its bytes
    follow the partitioning even when its content does not change."""
    if not (os.path.exists(a) and os.path.exists(b)):
        return False
    with open(a, "rb") as fa, open(b, "rb") as fb:
        x, y = fa.read(), fb.read()
    if a.endswith(".bz2"):
        return x == y or bz2.decompress(x) == bz2.decompress(y)
    return x == y


def check_oracle(sf_dir, out_dir, log, timeout):
    """Run the repository's selfcheck.py, the DuckDB oracle diff, over a
    graft.Verify output dir. Returns (checked, failed)."""
    checked = sum(os.path.isdir(os.path.join(out_dir, d)) for d in os.listdir(out_dir))
    res = subprocess.run([sys.executable, SELFCHECK, sf_dir, out_dir],
                         capture_output=True, text=True, timeout=timeout)
    for line in res.stdout.splitlines():
        if line.startswith(("FAIL ", "  got:", "  exp:")):
            log(f"[check] {line}")
    found = re.search(r"^FAILURES: (\d+)$", res.stdout, re.M)
    if found is None:
        log(f"[check] FAIL selfcheck.py exited {res.returncode}: {res.stderr[-2000:]}")
        return checked, checked
    return checked, int(found.group(1))


def manifest_mismatches(data_dir):
    """Files of data_dir whose SHA-256 differs from its SHA256SUMS file
    (`sha256sum` format), or that are missing."""
    bad = []
    with open(os.path.join(data_dir, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            path = os.path.join(data_dir, name)
            if not os.path.exists(path):
                bad.append(name)
                continue
            with open(path, "rb") as data:
                if hashlib.sha256(data.read()).hexdigest() != digest:
                    bad.append(name)
    return bad
