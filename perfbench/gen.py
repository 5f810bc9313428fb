"""Seeded input generator for the benchmark workloads.

Every input file is a pure function of (workload parameters, seed): the
same seed gives byte-identical files. Next to the inputs it writes
`truth.json`, the planted facts the harness checks each operation
against. The program under test only ever sees the input files.
"""

import datetime as dt
import json
import math
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
TS_FMT = "%Y-%m-%d %H:%M:%S"
SENTINEL = -9999.0


def workload_spec(workload):
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"]
    if workload not in spec:
        raise SystemExit(f"unknown workload {workload!r}; known: {sorted(spec)}")
    return spec[workload]


# ---------------------------------------------------------------- stations

# (base, daily amplitude, slow amplitude, noise sd) per variable
SIGNAL = {
    "O2": (10.0, 1.2, 1.0, 0.05),
    "pH": (7.8, 0.15, 0.1, 0.01),
    "NO3": (22.0, 0.8, 3.0, 0.08),
    "Temp": (12.0, 1.5, 4.0, 0.05),
    "Cond": (450.0, 8.0, 40.0, 1.0),
}


class Reserver:
    """Hands out non-overlapping index ranges so planted artifacts
    never touch each other (a gap next to a flat run would change
    which events the run produces)."""

    def __init__(self, rng, n, margin):
        self.rng, self.n, self.margin = rng, n, margin
        self.taken = []

    def take(self, length, margin=None):
        m = self.margin if margin is None else margin
        for _ in range(10000):
            a = self.rng.randrange(m + 1, self.n - length - m - 1)
            lo, hi = a - m, a + length + m
            if all(hi <= tl or lo >= th for tl, th in self.taken):
                self.taken.append((lo, hi))
                return a
        raise RuntimeError("generator could not place an artifact; series too short")


def series_values(rng, var, n, step_min, t0_doy):
    base, amp_d, amp_s, sd = SIGNAL[var]
    phase = rng.uniform(0, 2 * math.pi)
    out, ar = [], 0.0
    for i in range(n):
        hours = i * step_min / 60.0
        ar = 0.8 * ar + rng.gauss(0.0, sd)
        v = (base + amp_d * math.sin(2 * math.pi * hours / 24.0 + phase)
             + amp_s * math.sin(2 * math.pi * (t0_doy + hours / 24.0) / 365.25)
             + ar)
        out.append(v)
    return out


def discharge_and_conc(rng, n, step_min, t0_doy):
    """Discharge Q (log-AR random walk with a seasonal cycle) and a
    concentration that follows Q: c = 20 * (Q/Qm)^-0.3 * season + noise."""
    q, c, lq = [], [], 0.0
    for i in range(n):
        doy = t0_doy + i * step_min / 1440.0
        lq = 0.97 * lq + rng.gauss(0.0, 0.06)
        qi = 12.0 * math.exp(0.6 * math.sin(2 * math.pi * doy / 365.25) + lq)
        ci = 20.0 * (qi / 12.0) ** -0.3 * (1 + 0.1 * math.cos(2 * math.pi * doy / 365.25))
        q.append(qi)
        c.append(ci + rng.gauss(0.0, 0.2))
    return q, c


def fmt(v):
    return "" if v is None else f"{v:.4f}"


def gen_station(p, seed, out):
    """One station file `station.csv` plus its planted facts. Values are
    blanked (None) where the generator plants missing readings."""
    rng = random.Random(seed)
    start = dt.datetime(2023, 1, 1) + dt.timedelta(days=rng.randrange(0, 300))
    step_min, variables, qcol = p["step_min"], p["variables"], p["discharge"]
    n = p["days"] * 24 * 60 // step_min
    t0_doy = start.timetuple().tm_yday
    vals = {}
    q, vals[p["discharge_var"]] = discharge_and_conc(rng, n, step_min, t0_doy)
    for v in variables:
        if v not in vals:
            vals[v] = series_values(rng, v, n, step_min, t0_doy)
    ts = [(start + dt.timedelta(minutes=step_min * i)).strftime(TS_FMT) for i in range(n)]
    res = Reserver(rng, n, margin=8)
    facts = {"flat_runs": [], "zero_runs": [], "spikes": []}

    removed = set()
    for _ in range(p["gaps"]):
        a = res.take(p["gap_steps"])
        removed.update(range(a, a + p["gap_steps"]))
    for kind, count, steps, value in (("flat_runs", p["flat_runs"], p["flat_steps"], None),
                                      ("zero_runs", p["zero_runs"], p["zero_steps"], 0.0)):
        for k in range(count):
            var = variables[(k + (kind == "zero_runs")) % len(variables)]
            a = res.take(steps)
            level = round(vals[var][a], 4) if value is None else value
            for i in range(a, a + steps):
                vals[var][i] = level
            facts[kind].append({"variable": var, "start": ts[a], "end": ts[a + steps - 1]})
    for k in range(p["spikes"]):
        var = variables[k % len(variables)]
        a = res.take(1, margin=6)
        vals[var][a] = vals[var][a] * 1.6 + 5.0
        facts["spikes"].append({"variable": var, "ts": ts[a]})
    for var in p["sentinel_vars"]:
        for _ in range(p["sentinels_per_var"]):
            vals[var][res.take(1, margin=2)] = SENTINEL
    for var in variables:
        for _ in range(p["blanks_per_var"]):
            vals[var][res.take(1, margin=2)] = None
    dups = {res.take(1, margin=2) for _ in range(p["dup_rows"])}

    lines = [",".join(["timestamp"] + variables + [qcol])]
    for i in range(n):
        if i in removed:
            continue
        row = [vals[v][i] for v in variables] + [q[i]]
        lines.append(",".join([ts[i]] + [fmt(x) for x in row]))
        if i in dups:  # a later row with the same timestamp: keep-first drops it
            lines.append(",".join([ts[i]] + [fmt(None if x is None else x + 1.0) for x in row]))
    path = os.path.join(out, "station.csv")
    with open(path, "w", newline="\n") as fh:
        fh.write("\n".join(lines) + "\n")
    return {"kind": "station", "path": "station.csv", "bytes": os.path.getsize(path),
            "station": f"S{seed}", "variables": variables, "discharge": qcol,
            "sentem": p["sentem"], "nitrate": p["nitrate"], "ranges": p["ranges"],
            "sentinel_vars": p["sentinel_vars"], "rows_wide": len(lines) - 1,
            "distinct_ts": n - len(removed), "step_us": step_min * 60 * 1000000, **facts}


# ------------------------------------------------------------------ corpus

EN_STOP = ["the", "a", "of", "and", "in", "is", "to"]
LANG_WORDS = {"de": ["der", "die", "das", "und", "ist"],
              "es": ["el", "la", "de", "y", "es"],
              "fr": ["le", "la", "les", "et", "est"]}
SYLL = ["ka", "lo", "mi", "ru", "ten", "sor", "vak", "pel", "dri", "mon",
        "zu", "fe", "bra", "gil", "nox", "qua", "tri", "wen", "yas", "hob"]


def make_vocab(rng, size):
    reserved = set(EN_STOP) | {w for ws in LANG_WORDS.values() for w in ws}
    vocab, seen = [], set()
    while len(vocab) < size:
        w = "".join(rng.choice(SYLL) for _ in range(rng.randint(2, 4)))
        if w not in seen and w not in reserved:
            seen.add(w)
            vocab.append(w)
    return vocab


def gen_corpus(p, seed, out):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    vocab = make_vocab(rng, p["vocab"])
    lo, hi = p["words_per_doc"]
    share = p["marker_share"]

    def words(markers, n):
        return [rng.choice(markers) if rng.random() < share else rng.choice(vocab)
                for _ in range(n)]

    def doc(markers):
        return " ".join(words(markers, rng.randint(lo, hi)))

    # (text, tag, group) before ids are assigned
    docs = []
    for g in range(p["exact_families"]):
        text = doc(EN_STOP)
        for _ in range(rng.randint(*p["family_size"])):
            docs.append((text, "family", g))
    # near-duplicate families: each member is the previous one with one
    # more word appended at the end
    g = 0
    for size, count in p["near_families"]:
        for _ in range(count):
            base = words(EN_STOP, rng.randint(lo, hi - size + 1))
            tail = words(EN_STOP, size - 1)
            for j in range(size):
                docs.append((" ".join(base + tail[:j]), "near", g))
            g += 1
    # low quality: short and without stopwords
    for _ in range(p["low_quality"]):
        n = rng.randint(*p["low_quality_words"])
        docs.append((" ".join(rng.choice(vocab) for _ in range(n)), "low", -1))
    for lang, frac in sorted(p["lang_share"].items()):
        for _ in range(int(round(frac * p["docs"]))):
            docs.append((doc(LANG_WORDS[lang]), lang, -1))
    if len(docs) > p["docs"]:
        raise RuntimeError("corpus too small for its planted structure")
    while len(docs) < p["docs"]:
        docs.append((doc(EN_STOP), "en", -1))
    rng.shuffle(docs)

    families, near, foreign, low = {}, {}, [], []
    for i, (_, tag, g) in enumerate(docs, start=1):
        if tag == "family":
            families.setdefault(g, []).append(i)
        elif tag == "near":
            near.setdefault(g, []).append(i)
        elif tag == "low":
            low.append(i)
        elif tag in LANG_WORDS:
            foreign.append(i)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(1, len(docs) + 1), pa.int64()),
        "text": pa.array([d[0] for d in docs], pa.string())}),
        os.path.join(out, "documents.parquet"))

    dim = p["dim"]

    def unit(v):
        s = math.sqrt(sum(x * x for x in v))
        return [x / s for x in v]

    # isotropic unit vectors; each query gets one planted near neighbour
    vectors = [unit([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(p["vectors"])]
    queries = [unit([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(p["queries"])]
    targets = rng.sample(range(p["vectors"]), p["queries"])
    neighbours = {}
    for qi, ci in enumerate(targets):
        vectors[ci] = unit([x + rng.gauss(0, p["neighbour_noise"]) for x in queries[qi]])
        neighbours[str(qi + 1)] = ci + 1
    vec_type = pa.list_(pa.float64())
    pq.write_table(pa.table({
        "id": pa.array(range(1, len(vectors) + 1), pa.int64()),
        "vec": pa.array(vectors, vec_type)}), os.path.join(out, "embeddings.parquet"),
        row_group_size=2000)  # several row groups, so the scan can split
    pq.write_table(pa.table({
        "id": pa.array(range(1, len(queries) + 1), pa.int64()),
        "vec": pa.array(queries, vec_type)}), os.path.join(out, "queries.parquet"))

    planted_pairs = sorted([a, b] for ids in [*families.values(), *near.values()]
                           for i, a in enumerate(ids) for b in ids[i + 1:])
    return {"kind": "corpus", "docs": len(docs),
            "families": [families[g] for g in sorted(families)],
            "planted_pairs": planted_pairs, "foreign": foreign, "low_quality": low,
            "vectors": p["vectors"], "queries": p["queries"], "k": p["k"],
            "neighbours": neighbours}


def generate(workload, seed, out):
    p = workload_spec(workload)["generator"]
    os.makedirs(out, exist_ok=True)
    truth = (gen_corpus if p["kind"] == "corpus" else gen_station)(p, seed, out)
    truth["workload"], truth["seed"] = workload, seed
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    return truth

