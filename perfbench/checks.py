"""Output checks made outside the engine.

welch_sample recomputes the contrast statistics of sampled output rows
straight from the generated input files, with none of the engine's code:
side sizes, means, population sds, and the test statistic (Welch t on the
t-test route, the mean difference on the permutation route).
"""

import csv
import glob
import math
import os
import random

import pyarrow.parquet as pq

REL_TOL = 1e-9


def read_combined(directory):
    rows = []
    for path in sorted(glob.glob(os.path.join(directory, "part-*.csv"))):
        with open(path, newline="") as f:
            rows.extend(csv.DictReader(f))
    return rows


def _num(s):
    return float(s) if s not in ("", None) else None


class MwasTruth:
    """Per-(bioproject, group, biosample) mean rpm and the metadata, read
    from the files the engine was given."""

    def __init__(self, mwas_dir):
        cat = pq.read_table(os.path.join(mwas_dir, "catalog.parquet"))
        cat = cat.to_pydict()
        self.run_of = {r: (bp, bs, sp) for bp, bs, r, sp in zip(
            cat["bio_project"], cat["bio_sample"], cat["run"], cat["spots"])}
        self.universe = {}
        for bp, bs in zip(cat["bio_project"], cat["bio_sample"]):
            self.universe.setdefault(bp, set()).add(bs)
        meta = pq.read_table(os.path.join(mwas_dir, "metadata.parquet"))
        meta = meta.to_pydict()
        self.value = {(bp, bs, a): v for bp, bs, a, v in zip(
            meta["bioproject"], meta["biosample_id"], meta["attribute"],
            meta["value"])}
        acc = {}
        with open(os.path.join(mwas_dir, "input.csv"), newline="") as f:
            for row in csv.DictReader(f):
                hit = self.run_of.get(row["run"])
                if hit is None:
                    continue  # unknown to the catalog: dropped
                bp, bs, spots = hit
                safe = 1e6 if not spots else spots
                rpm = float(row["quantifier"]) / safe * 1e6
                s, n = acc.get((bp, row["group"], bs), (0.0, 0))
                acc[(bp, row["group"], bs)] = (s + rpm, n + 1)
        self.mean = {k: s / n for k, (s, n) in acc.items()}

    def side_stats(self, bp, group, members):
        vals = [self.mean.get((bp, group, bs), 0.0) for bs in members]
        n = len(vals)
        m = sum(vals) / n
        var = max(0.0, sum(v * v for v in vals) / n - m * m)
        return n, m, math.sqrt(var)

    def expected(self, row):
        """Side sizes, means, sds and statistic for one output row."""
        bp, group = row["bioproject"], row["group"]
        attr = row["metadata_field"].split("; ")[0]
        value = row["metadata_value"].split("; ")[0]
        uni = sorted(self.universe[bp])
        true = [bs for bs in uni if self.value.get((bp, bs, attr)) == value]
        false = [bs for bs in uni if self.value.get((bp, bs, attr)) != value]
        nt, mt, st = self.side_stats(bp, group, true)
        nf, mf, sf = self.side_stats(bp, group, false)
        if row["status"].startswith("t_test"):
            se2 = st * st / nt + sf * sf / nf
            stat = (mt - mf) / math.sqrt(se2) if se2 > 0 else None
        else:
            stat = mt - mf
        return {"num_true": nt, "num_false": nf, "mean_rpm_true": mt,
                "mean_rpm_false": mf, "sd_rpm_true": st, "sd_rpm_false": sf,
                "test_statistic": stat}


def _close(want, got, scale):
    if want is None:
        return True  # degenerate variance: not recomputed
    if got is None:
        return False
    return abs(want - got) <= REL_TOL * max(abs(want), abs(got), scale)


def welch_sample(mwas_dir, combined_dir, seed, k=40):
    """Returns (rows read, [(row key, problem)]) for up to k sampled rows."""
    rows = read_combined(combined_dir)
    truth = MwasTruth(mwas_dir)
    problems = []
    sample = random.Random(seed).sample(rows, min(k, len(rows)))
    for row in sample:
        key = (row["bioproject"], row["group"], row["metadata_field"],
               row["metadata_value"])
        exp = truth.expected(row)
        scale = 1.0 + max(abs(exp["mean_rpm_true"]),
                          abs(exp["mean_rpm_false"]))
        for col, want in exp.items():
            got = _num(row[col])
            ok = (got == want) if col.startswith("num_") else \
                _close(want, got, scale if col != "test_statistic" else 1.0)
            if not ok:
                problems.append((key, f"{col}: expected {want}, found {got}"))
    return rows, sample, problems


def route_shares(rows):
    """Shares of contrasts per test route, from the status column."""
    n = max(1, len(rows))
    perm = [r for r in rows if r["status"].startswith("permutation_test")]
    early = sum("permutation_mc_early" in r["status"] for r in perm)
    exact = sum("permutation_exact" in r["status"] for r in perm)
    return {"perm_share": len(perm) / n,
            "early_stop_share_of_perm": early / max(1, len(perm)),
            "exact_share_of_perm": exact / max(1, len(perm)),
            "significant_share": sum("significant" in r["status"]
                                     for r in rows) / n}
