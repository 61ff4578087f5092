"""Seeded input generators for the benchmark.

Every generator takes the workload seed and writes plain files (CSV,
parquet, JSON); the engine only ever sees those files. The sizes are fixed
by the shape constants below, so two seeds give the same amount of work with
different contents. Each generator checks its own invariants and raises
FixtureError when one breaks, instead of handing the engine a silently
degenerate input.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


class FixtureError(AssertionError):
    """A generated input broke one of its stated invariants."""


def require(cond, what):
    if not cond:
        raise FixtureError(what)


# ---------------------------------------------------------------- MWAS ----

# Bioproject sizes follow a fixed Zipf-like profile (size_i ~ MAX / (i+1)),
# so the heaviest project is tens of times the median. The seed decides
# which project gets which size, the replicate runs, the groups a run was
# quantified for, the quantifiers and every metadata cell.
MWAS_SHAPE = {
    "projects": 96,
    "max_project": 1200,
    "min_project": 24,
    "groups": 4,
    "replicate_p": (0.72, 0.22, 0.06),  # 1, 2 or 3 runs per biosample
    "group_p": 0.55,          # chance a run was quantified for a group
    "min_group_rows": 3,      # rows per (project, group), so none is dropped
    "absent_from_input": 0.12,  # catalog runs the user did not send
    "orphan_runs": 0.03,      # input runs the catalog does not know
    "zero_spots": 0.01,
    "nan_cells": 0.08,
    "stream_batches": 4,
    "requests": 24,
}

GROUP_NAMES = ["RF00001", "RF00005", "RF00177", "RF01960", "RF02541",
               "RF00162", "RF00174", "RF00050"]

# (attribute, level shares) for every project's metadata; the shares are
# fixed and only the assignment is seeded, so the number of contrasts
# barely moves with the seed. sample_title is near-unique (one shared pair,
# the rest singletons that the condenser must prune); accession_alias is
# unique and instrument is constant, so both are dropped whole.
CATEGORICAL = [("env_material", (0.55, 0.3, 0.15)),
               ("host_sex", (0.5, 0.5)),
               ("collection_site", (0.3, 0.25, 0.2, 0.15, 0.1)),
               ("treatment", (0.4, 0.35, 0.25))]


def shuffled_counts(rng, n, shares):
    """n labels in the given shares (largest remainder), shuffled."""
    raw = [n * p for p in shares]
    counts = [int(r) for r in raw]
    for i in sorted(range(len(shares)), key=lambda i: counts[i] - raw[i]):
        if sum(counts) == n:
            break
        counts[i] += 1
    labels = np.repeat(np.arange(len(shares)), counts)
    return rng.permutation(labels)


def project_sizes(shape=MWAS_SHAPE):
    p = shape["projects"]
    sizes = [max(shape["min_project"], round(shape["max_project"] / (i + 1)))
             for i in range(p)]
    return sizes


def _write_parquet(path, columns):
    pq.write_table(pa.table(columns), path)


def make_mwas(seed, out_dir, shape=MWAS_SHAPE):
    """Write the MWAS inputs for `seed` under `out_dir`.

    Files: input.csv (run, group, quantifier), catalog.parquet
    (bio_project, bio_sample, run, spots), metadata.parquet (long form:
    bioproject, biosample_id, attribute, value), stream/batch_NNN.parquet
    (the input split by run for the stream replay) and requests/ (the
    server traffic). Returns the traffic shape as a dict.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    sizes = project_sizes(shape)
    order = rng.permutation(len(sizes))
    projects = [f"PRJB{i:04d}" for i in range(len(sizes))]
    size_of = {projects[i]: sizes[order[i]] for i in range(len(sizes))}
    groups = GROUP_NAMES[: shape["groups"]]

    # catalog: biosamples with 1-3 replicate runs each
    cat_bp, cat_bs, cat_run = [], [], []
    members = {}
    bs_n = run_n = 0
    for bp in projects:
        members[bp] = []
        reps_of = 1 + shuffled_counts(rng, size_of[bp], shape["replicate_p"])
        for j in range(size_of[bp]):
            bs = f"SAMB{bs_n:07d}"
            bs_n += 1
            members[bp].append(bs)
            for _ in range(reps_of[j]):
                cat_bp.append(bp)
                cat_bs.append(bs)
                cat_run.append(f"SRRB{run_n:08d}")
                run_n += 1
    n_runs = len(cat_run)
    spots = rng.integers(200_000, 6_000_000, n_runs)
    spots[rng.choice(n_runs, size=max(1, round(n_runs * shape["zero_spots"])),
                     replace=False)] = 0
    _write_parquet(os.path.join(out_dir, "catalog.parquet"), {
        "bio_project": cat_bp, "bio_sample": cat_bs, "run": cat_run,
        "spots": pa.array(spots.tolist(), pa.int64())})

    # metadata (long form), one row per biosample x attribute
    meta = {"bioproject": [], "biosample_id": [], "attribute": [],
            "value": []}
    signal_level = {}

    def cell(bp, bs, attr, value):
        meta["bioproject"].append(bp)
        meta["biosample_id"].append(bs)
        meta["attribute"].append(attr)
        meta["value"].append(value)

    for bp in projects:
        bss = members[bp]
        n = len(bss)
        levels_of = {}
        for attr, shares in CATEGORICAL:
            levels_of[attr] = shuffled_counts(rng, n, shares)
        signal_attr = CATEGORICAL[int(rng.integers(len(CATEGORICAL)))][0]
        shared = rng.choice(n, size=2, replace=False)
        nan_at = set(rng.choice(n, size=max(1, round(n * shape["nan_cells"])),
                                replace=False).tolist())
        for j, bs in enumerate(bss):
            for attr, _ in CATEGORICAL:
                v = f"{attr[:4]}_{levels_of[attr][j]}"
                if attr == "host_sex" and j in nan_at:
                    v = "nan"
                cell(bp, bs, attr, v)
            title = "shared title" if j in shared else f"sample {bs}"
            cell(bp, bs, "sample_title", title)
            cell(bp, bs, "accession_alias", f"ALIAS-{bs}")
            cell(bp, bs, "instrument", "Illumina NovaSeq")
        # the signal attribute's level, kept per biosample for the input
        signal_level[bp] = (signal_attr, levels_of[signal_attr])
    _write_parquet(os.path.join(out_dir, "metadata.parquet"), meta)

    # input: run x group quantifiers; absent runs give implicit zeros,
    # orphan runs are unknown to the catalog
    in_run, in_group, in_q = [], [], []
    present = np.ones(n_runs, dtype=bool)
    present[rng.choice(n_runs, size=round(n_runs * shape["absent_from_input"]),
                       replace=False)] = False
    run_bp_of = dict(zip(cat_run, cat_bp))
    bs_index = {}
    for bp in projects:
        for j, bs in enumerate(members[bp]):
            bs_index[bs] = (bp, j)
    for r in range(n_runs):
        if not present[r]:
            continue
        bp, j = bs_index[cat_bs[r]]
        attr, lv = signal_level[bp]
        boosted = lv[j] == 0
        chosen = rng.random(len(groups)) < shape["group_p"]
        if not chosen.any():
            chosen[int(rng.integers(len(groups)))] = True
        for g in np.flatnonzero(chosen):
            base = rng.lognormal(3.0, 1.2)
            if g == 0 and boosted:
                base *= 4.0
            q = 0.0 if rng.random() < 0.1 else float(round(base))
            in_run.append(cat_run[r])
            in_group.append(groups[g])
            in_q.append(q)
    # top up thin (project, group) cells so the acceptance threshold never
    # drops a whole group at random
    have = {}
    for r, g in zip(in_run, in_group):
        have.setdefault((run_bp_of[r], g), set()).add(r)
    for bp in projects:
        runs_here = [cat_run[r] for r in range(n_runs)
                     if present[r] and cat_bp[r] == bp]
        for g in groups:
            got = have.get((bp, g), set())
            spare = [r for r in runs_here if r not in got]
            for r in spare[: max(0, shape["min_group_rows"] - len(got))]:
                in_run.append(r)
                in_group.append(g)
                in_q.append(float(round(rng.lognormal(3.0, 1.2))))
    n_orphans = int(round(n_runs * shape["orphan_runs"]))
    for k in range(n_orphans):
        in_run.append(f"SRRX{k:08d}")
        in_group.append(groups[k % len(groups)])
        in_q.append(float(rng.integers(1, 500)))
    perm = rng.permutation(len(in_run))
    in_run = [in_run[i] for i in perm]
    in_group = [in_group[i] for i in perm]
    in_q = [in_q[i] for i in perm]
    with open(os.path.join(out_dir, "input.csv"), "w") as f:
        f.write("run,group,quantifier\n")
        for r, g, q in zip(in_run, in_group, in_q):
            f.write(f"{r},{g},{q!r}\n")

    # stream replay: the same input, split by a seeded run -> batch map
    nb = shape["stream_batches"]
    stream_dir = os.path.join(out_dir, "stream")
    os.makedirs(stream_dir, exist_ok=True)
    runs_sorted = sorted(set(in_run))
    batch_of = dict(zip(runs_sorted, rng.integers(0, nb, len(runs_sorted))))
    t0 = 1_600_000_000
    for b in range(nb):
        idx = [i for i, r in enumerate(in_run) if batch_of[r] == b]
        require(idx, f"stream batch {b} is empty")
        path = os.path.join(stream_dir, f"batch_{b:03d}.parquet")
        _write_parquet(path, {
            "run": [in_run[i] for i in idx],
            "group": [in_group[i] for i in idx],
            "quantifier": pa.array([in_q[i] for i in idx], pa.float64())})
        # the file stream replays in modification-time order
        os.utime(path, (t0 + 10 * b, t0 + 10 * b))

    # server traffic: request k carries the runs of 1 + k % 10 projects;
    # even requests use the default flags, odd ones --only-t-test
    req_dir = os.path.join(out_dir, "requests")
    os.makedirs(req_dir, exist_ok=True)
    rows_of = {bp: [] for bp in projects}
    orphans = []
    for r, g, q in zip(in_run, in_group, in_q):
        bp = run_bp_of.get(r)
        (rows_of[bp] if bp else orphans).append(
            {"run": r, "group": g, "quantifier": q})
    index = []
    for k in range(shape["requests"]):
        chosen = sorted(str(p) for p in
                        rng.choice(projects, size=1 + k % 10, replace=False))
        body = [row for bp in chosen for row in rows_of[bp]]
        body += orphans[k % max(1, len(orphans)):][:2]
        name = f"req_{k:03d}.json"
        with open(os.path.join(req_dir, name), "w") as f:
            json.dump(body, f)
        index.append({"id": k, "file": name, "bioprojects": chosen,
                      "flags": [] if k % 2 == 0 else ["--only-t-test"]})
    with open(os.path.join(req_dir, "index.tsv"), "w") as f:
        for r in index:
            f.write("\t".join([str(r["id"]), r["file"], ",".join(r["flags"]),
                               ",".join(r["bioprojects"])]) + "\n")

    # invariants the workloads depend on
    n_bs = bs_n
    require(min(sizes) >= 3, "every project needs 3+ biosamples")
    require(max(sizes) >= 10 * float(np.median(sizes)),
            "project sizes must be heavy-tailed (max >= 10x median)")
    require(n_runs > n_bs, "some biosamples must have replicate runs")
    require((~present).any(), "some catalog runs must be absent from input")
    require(n_orphans > 0, "some input runs must be absent from catalog")
    require((spots == 0).any(), "some catalog rows must have spots = 0")
    require("nan" in meta["value"], "some metadata cells must be 'nan'")
    require(set(meta["biosample_id"]) == set(cat_bs),
            "metadata must cover exactly the catalog's biosamples")
    require(len(set(zip(in_run, in_group))) == len(in_run),
            "input must hold one row per (run, group)")

    q = np.quantile(sizes, [0.5, 0.9, 1.0])
    return {
        "projects": len(projects), "biosamples": n_bs, "runs": n_runs,
        "input_rows": len(in_run), "metadata_rows": len(meta["value"]),
        "groups": len(groups), "stream_batches": nb,
        "requests": len(index),
        "project_size_p50": float(q[0]), "project_size_p90": float(q[1]),
        "project_size_max": float(q[2]),
    }


# ------------------------------------------------------------- corpus ----

CORPUS_SHAPE = {
    "docs": 400,
    "vectors": 240,
    "dim": 64,
    "clusters": 10,
    "near_dup": 0.15,   # docs copied from an earlier doc with a few edits
    "exact_dup": 0.04,  # verbatim copies
    "families": 0.05,   # bases that get 3-5 near copies of their own
    "heaps_k": 12.0,    # vocabulary = heaps_k * docs ** heaps_beta
    "heaps_beta": 0.6,
}

LANGS = ["en", "de", "fr", "es", "zh"]
CONSONANTS = "bcdfghklmnprstvz"
VOWELS = "aeiou"


def vocabulary_size(docs, shape=CORPUS_SHAPE):
    """Heaps' law: the vocabulary grows with the corpus."""
    return int(round(shape["heaps_k"] * docs ** shape["heaps_beta"]))


def _word(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i, len(CONSONANTS) * len(VOWELS))
        s += CONSONANTS[r // len(VOWELS)] + VOWELS[r % len(VOWELS)]
    return s


def make_corpus(seed, out_dir, shape=CORPUS_SHAPE):
    """Write documents.parquet and embeddings.parquet for `seed`."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n = shape["docs"]
    vocab = [_word(i) for i in range(vocabulary_size(n, shape))]
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf /= zipf.sum()
    # copies keep their original's source: the dedup joins pair documents
    # within one source
    texts, kinds, sources = [], [], []

    def add(text, kind, source):
        texts.append(text)
        kinds.append(kind)
        sources.append(source)

    def fresh():
        length = int(np.clip(rng.lognormal(3.8, 0.5), 12, 240))
        return " ".join(vocab[j] for j in
                        rng.choice(len(vocab), size=length, p=zipf))

    def edited(text):
        words = text.split(" ")
        for _ in range(int(rng.integers(1, 4))):
            words[int(rng.integers(len(words)))] = vocab[
                int(rng.choice(len(vocab), p=zipf))]
        return " ".join(words)

    # near-duplicate families: a base and 3-5 edited copies, so the
    # similarity graph has dense clusters (k-core, components) as well as
    # isolated pairs
    while len(texts) < n:
        u = rng.random()
        src = f"src{int(rng.integers(5))}"
        if len(texts) > 10 and u < shape["exact_dup"]:
            j = int(rng.integers(len(texts)))
            add(texts[j], "exact", sources[j])
        elif len(texts) > 10 and u < shape["exact_dup"] + shape["near_dup"]:
            j = int(rng.integers(len(texts)))
            add(edited(texts[j]), "near", sources[j])
        elif u < shape["exact_dup"] + shape["near_dup"] + shape["families"]:
            base = fresh()
            add(base, "fresh", src)
            for _ in range(int(rng.integers(3, 6))):
                add(edited(base), "near", src)
        else:
            add(fresh(), "fresh", src)
    texts, kinds, sources = texts[:n], kinds[:n], sources[:n]
    _write_parquet(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(k)] for k in rng.integers(0, len(LANGS), n)],
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    m, dim, k = shape["vectors"], shape["dim"], shape["clusters"]
    centers = rng.normal(0, 1, (k, dim))
    labels = rng.integers(0, k, m)
    vecs = centers[labels] + rng.normal(0, 0.35, (m, dim))
    dup = rng.random(m) < 0.05
    src = rng.integers(0, m, m)
    vecs[dup] = vecs[src[dup]] + rng.normal(0, 1e-3, (int(dup.sum()), dim))
    _write_parquet(os.path.join(out_dir, "embeddings.parquet"), {
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array([v.astype(np.float32).tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels.tolist(), pa.int32())})

    n_near = kinds.count("near")
    n_exact = kinds.count("exact")
    require(n_near > 0 and n_exact > 0,
            "corpus needs both near and exact duplicates")
    require(len(set(texts)) < n, "corpus needs repeated texts")
    used = {w for t in texts for w in t.split(" ")}
    require(len(used) > 0.5 * len(vocab),
            "most of the vocabulary must occur in the corpus")
    return {"docs": n, "vocabulary": len(vocab), "near_dups": n_near,
            "exact_dups": n_exact, "vectors": m, "dim": dim,
            "doc_words_p50": float(np.median([len(t.split()) for t in texts]))}
