#!/usr/bin/env python3
"""Test of the seeded input generator (perfbench/src/.../Gen.scala).

    python3 perfbench/test_gen.py

Run from the root of a checkout after one benchmark run has built the
classes. Checks that one seed gives byte-identical files, that another
seed gives different files, and that the planted truth matches the
files it describes. Exits non-zero on the first failed check.
"""
import csv
import filecmp
import math
import os
import shutil
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
SIZES = ["300", "400", "500"]  # series, documents, vectors
FAMILIES = 4
NN_QUERIES = 200


def generate(seed, out):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    subprocess.run(["java", "-cp", cp, "graft.perfbench.Gen", str(seed), out] + SIZES, check=True)


def files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs)


def rows(path):
    with open(path, newline="") as fh:
        return list(csv.DictReader(fh))


def check(cond, msg):
    if not cond:
        print(f"FAIL {msg}")
        sys.exit(1)
    print(f"ok   {msg}")


def check_truth(d):
    n = int(SIZES[0])
    truth = {int(r["Process"]): (int(r["family"]), int(r["outlier"]))
             for r in rows(os.path.join(d, "series", "truth.csv"))}
    series = {}
    for r in rows(os.path.join(d, "series", "upload.csv")):
        series.setdefault(int(r["Process"]), []).append((int(r["Step"]), float(r["Value"])))
    check(sorted(truth) == sorted(series) == list(range(1, n + 1)), "truth names every series once")
    outliers = [p for p, (f, o) in truth.items() if o]
    check(len(outliers) == round(n * 0.01) and all(truth[p][0] == -1 for p in outliers),
          "1% planted outliers, family -1")
    for p, pts in series.items():
        steps = [s for s, _ in pts]
        check_len = steps == list(range(len(steps)))
        fam = truth[p][0]
        lo, hi = (45, 99) if fam < 0 else (45 + 14 * fam, min(99, 57 + 14 * fam))
        if not (check_len and lo <= len(steps) <= hi):
            check(False, f"series {p}: steps 0..n-1 and length in its family band")
    check(True, "every series has steps 0..n-1 and a length in its family's band")
    means = {}
    for p, pts in series.items():
        means.setdefault(truth[p][0], []).append(sum(v for _, v in pts) / len(pts))
    inlier_top = max(max(means[f]) for f in range(FAMILIES))
    check(min(means[-1]) > inlier_top - 1.5, "outliers sit at or above the highest family level")
    for f in range(FAMILIES - 1):
        check(max(means[f]) < min(means[f + 1]), f"family {f} lies below family {f + 1}")

    docs = {int(r["doc_id"]): r["text"].split() for r in rows(os.path.join(d, "docs", "docs.csv"))}
    pairs = [(int(r["id_a"]), int(r["id_b"])) for r in rows(os.path.join(d, "docs", "dup_pairs.csv"))]
    check(len(pairs) == len([i for i in docs if i >= 10 and i % 10 == 0]), "one planted pair per copy")

    def shingles(ws):
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    for a, b in pairs:
        sa, sb = shingles(docs[a]), shingles(docs[b])
        if len(sa & sb) / len(sa | sb) < 0.6:
            check(False, f"planted pair {a},{b} is a near-duplicate")
    check(True, "every planted pair has word-3-shingle Jaccard >= 0.6")

    vecs = {int(r["id"]): [float(r[f"v{k}"]) for k in range(32)]
            for r in rows(os.path.join(d, "vectors", "vectors.csv"))}
    nn = [(int(r["query_id"]), int(r["twin_id"])) for r in rows(os.path.join(d, "vectors", "nn_pairs.csv"))]
    check(len(nn) == NN_QUERIES and len(vecs) == int(SIZES[2]) + NN_QUERIES, "planted twins listed")
    for q, t in nn[:50]:
        dq = math.dist(vecs[q], vecs[t])
        nearest = min(math.dist(vecs[q], v) for i, v in vecs.items() if i not in (q, t))
        if not dq < nearest:
            check(False, f"twin {t} is the nearest neighbour of {q}")
    check(True, "each planted twin is its query's nearest neighbour")


def main():
    tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work") if os.path.isdir(os.path.join(BENCH, ".work")) else None)
    try:
        a, b, c = (os.path.join(tmp, x) for x in "abc")
        generate(11, a)
        generate(11, b)
        generate(12, c)
        fa = files(a)
        check(fa == files(b) and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                                     for f in fa), "same seed gives byte-identical files")
        check(all(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False)
                  for f in fa if not f.endswith("nn_pairs.csv")), "another seed changes every input file")
        check_truth(a)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
