"""Seeded inputs for every workload, and the answers they must produce.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. The SUT receives only these files and the requests
built from them; the expected answers are computed here, in numpy and
plain Python, never by the engine.
"""
import hashlib
import itertools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STEP_US = 300_000_000            # 5-minute ticks
HOUR_US = 3_600_000_000
T_END = 1_699_999_800_000_000    # last tick of the generated history
INGEST_EPOCH = 1_700_000_000_000_000

# exec-dashboard: 5 classes x 200 hosts x 3 days at 5 minutes
EXEC_CLASSES = ["dash.cpu", "dash.mem", "dash.disk", "dash.net", "dash.load"]
EXEC_HOSTS = 200
EXEC_DCS = 4
EXEC_TICKS = 3 * 288
EXEC_VARIANTS = 3                # panels per template (class and dc vary)
EXEC_REFRESH_BLOCKS = 6          # blocks of one request per template

# ingest-fetch
INGEST_SERIES = 250
INGEST_GROUP = 10                # series per fetched group

PROBE_DOCS = 600

# MinHash-LSH constants of graft.text.TextOps
LSH_P = 2147483647
LSH_PERMS = 8
DEDUP_THRESHOLD = 0.5            # shingle Jaccard of a near-duplicate pair


def rng_for(seed, stream):
    """Independent generator per (seed, stream) pair."""
    return np.random.default_rng([seed, stream])


def _signal(rng, ns, nt, step_us, t_end):
    """Integer-valued series: level + daily cycle + noise, in [0, 1000)."""
    ticks = t_end - (nt - 1 - np.arange(nt, dtype=np.int64)) * step_us
    hours = (ticks // HOUR_US) % 24
    level = rng.integers(200, 700, size=(ns, 1))
    amp = rng.integers(20, 200, size=(ns, 1))
    cycle = np.sin(2 * np.pi * hours / 24.0)[None, :]
    noise = rng.integers(-30, 31, size=(ns, nt))
    vals = np.clip(np.rint(level + amp * cycle) + noise, 0, 999).astype(np.float64)
    return ticks, vals


# ---------------------------------------------------------------- common

def kernel_series(seed):
    """40 hourly week-long series for the traced run's direct kernel calls."""
    _, vals = _signal(rng_for(seed, 90), 40, 7 * 24, HOUR_US, 1699999200000000)
    return vals


def ingest_value(seed, series, k):
    """Value of ingest series `series` at tick index `k` (vectorizes)."""
    x = (np.int64(seed) * 1_000_003 + np.asarray(series, dtype=np.int64) * 7_919
         + np.asarray(k, dtype=np.int64) * 104_729)
    return (x % 1000).astype(np.float64)


def ingest_lines(seed, k, period_us):
    """Line-protocol file for tick index k: one point per series."""
    tick = INGEST_EPOCH + k * period_us
    vals = ingest_value(seed, np.arange(INGEST_SERIES), k)
    return "".join(
        "%d// ingest.m{g=g%02d,s=s%03d} %.1f\n"
        % (tick, i // INGEST_GROUP, i, vals[i]) for i in range(INGEST_SERIES))


def write_common(seed, d):
    """Files every workload's SUT reads for the traced run's probes."""
    vals = kernel_series(seed)
    with open(os.path.join(d, "kernels.csv"), "w") as f:
        for row in vals:
            f.write(",".join("%.1f" % x for x in row) + "\n")
    with open(os.path.join(d, "lines.txt"), "w") as f:
        for k in range(4):
            f.write(ingest_lines(seed, k, 1_000_000))
    write_docs(os.path.join(d, "probe_docs.parquet"), probe_docs(seed))


def probe_docs(seed):
    """Documents for the traced run's text-layer probe."""
    return make_docs(seed + 100_000, PROBE_DOCS)


def write_docs(path, docs):
    pq.write_table(pa.table({
        "doc_id": pa.array([i for i, _ in docs], type=pa.int64()),
        "text": pa.array([t for _, t in docs])}), path)


def write_meta(d, meta):
    with open(os.path.join(d, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)


# -------------------------------------------------------- exec-dashboard

class ExecData:
    """Values V[class, host, tick] and the dashboard panels over them."""

    def __init__(self, seed):
        self.seed = seed
        rng = rng_for(seed, 1)
        self.ticks, v = _signal(rng, len(EXEC_CLASSES) * EXEC_HOSTS,
                                EXEC_TICKS, STEP_US, T_END)
        self.values = v.reshape(len(EXEC_CLASSES), EXEC_HOSTS, EXEC_TICKS)
        self.hosts = ["h%03d" % i for i in range(EXEC_HOSTS)]
        self.dcs = np.arange(EXEC_HOSTS) % EXEC_DCS
        # a template fixes its window and whether it reads one dc, so every
        # seed costs the same; the seed picks each panel's class and dc,
        # and the request order
        prng = rng_for(seed, 2)
        self.panels = [
            {"kind": kind, "w": TEMPLATES[kind][2],
             "cls": int(prng.integers(len(EXEC_CLASSES))),
             "dc": int(prng.integers(EXEC_DCS)) if kind in ONE_DC_KINDS else -1}
            for _ in range(EXEC_VARIANTS) for kind in TEMPLATES]
        # one panel per excluded template, after the ones the run sends
        self.excluded = list(range(len(self.panels), len(self.panels) + len(EXCLUDED)))
        self.panels += [{"kind": kind, "w": EXCLUDED[kind][2],
                         "cls": int(prng.integers(len(EXEC_CLASSES))), "dc": -1}
                        for kind in EXCLUDED]

    def write(self, d):
        ns = len(EXEC_CLASSES) * EXEC_HOSTS
        cls = np.repeat(np.arange(len(EXEC_CLASSES)), EXEC_HOSTS)
        table = _points_table(
            [EXEC_CLASSES[c] for c in cls], self.hosts * len(EXEC_CLASSES),
            np.tile(self.dcs, len(EXEC_CLASSES)), self.ticks,
            self.values.reshape(ns, EXEC_TICKS))
        pq.write_table(table, os.path.join(d, "points.parquet"),
                       compression="snappy", row_group_size=1 << 20)
        with open(os.path.join(d, "programs.txt"), "w") as f:
            # panels 0 .. len(TEMPLATES) - 1 are one of each template
            f.write("\n----\n".join(self.program(p, EXEC_TICKS - 1)
                                     for p in range(len(TEMPLATES))))
        write_meta(d, {"t_end": T_END, "step_us": STEP_US})
        return table.num_rows

    def sequence(self):
        """Endless request sequence (panel, now), in blocks of one request
        per template. A dashboard refresh moves NOW one tick forward and
        sends EXEC_REFRESH_BLOCKS blocks: every panel once, then every
        panel again (a second viewer of the same dashboard)."""
        rng = rng_for(self.seed, 3)
        now0 = EXEC_TICKS - 1 - 288
        k = len(TEMPLATES)
        for r in itertools.count():
            now = min(now0 + r, EXEC_TICKS - 1)
            for b in range(EXEC_REFRESH_BLOCKS):
                v = b % EXEC_VARIANTS
                for t in rng.permutation(k):
                    yield v * k + int(t), now

    def program(self, panel, now_idx):
        """WarpScript text of a panel at tick index now_idx."""
        pn = self.panels[panel]
        now = int(self.ticks[now_idx])
        return ALL_TEMPLATES[pn["kind"]][0](EXEC_CLASSES[pn["cls"]], pn["w"],
                                             pn["dc"], now, self.last_median(pn, now_idx))

    def last_median(self, pn, now_idx):
        """Median of the hosts' last-tick values, plus 0.5 (values are
        integers, so no host sits on the threshold)."""
        return float(np.median(self.values[pn["cls"], :, now_idx])) + 0.5

    def expected(self, panel, now_idx):
        pn = self.panels[panel]
        return ALL_TEMPLATES[pn["kind"]][1](self, pn, now_idx)

    # window slice: (hosts, 12 buckets, w ticks per bucket)
    def window(self, pn, now_idx, cls=None):
        w = pn["w"]
        c = pn["cls"] if cls is None else cls
        x = self.values[c, :, now_idx - 12 * w + 1: now_idx + 1]
        return x.reshape(EXEC_HOSTS, 12, w)

    def bucket_ticks(self, pn, now_idx):
        now = int(self.ticks[now_idx])
        span = pn["w"] * STEP_US
        return [now - (11 - g) * span for g in range(12)]


def _points_table(classes, hosts, dcs, ticks, values):
    ns, nt = values.shape
    sidx = np.repeat(np.arange(ns, dtype=np.int32), nt)
    ts = np.tile(ticks, ns)
    v = values.reshape(-1)

    def dict_col(labels):
        uniq = sorted(set(labels))
        pos = {u: i for i, u in enumerate(uniq)}
        codes = np.array([pos[x] for x in labels], dtype=np.int32)[sidx]
        return pa.DictionaryArray.from_arrays(pa.array(codes), pa.array(uniq)) \
            .cast(pa.string())

    return pa.table({
        "class": dict_col(list(classes)),
        "host": dict_col(list(hosts)),
        "dc": dict_col(["dc%d" % x for x in dcs]),
        "ts": pa.array(ts, type=pa.int64()),
        "v": pa.array(v, type=pa.float64()),
    })


def _fetch(cls, w, dc, now):
    sel = "{ 'dc' 'dc%d' }" % dc if dc >= 0 else "{ }"
    return "[ '' '%s' %s %d %d ] FETCH" % (cls, sel, now, w * HOUR_US)


def _bucketize(cls, w, dc, now, agg):
    return "[ %s bucketizer.%s %d %d 0 ] BUCKETIZE" % (
        _fetch(cls, w, dc, now), agg, now, w * STEP_US)


def _rows_by_host(data, pn, now_idx, per_bucket, hosts=None):
    ts = data.bucket_ticks(pn, now_idx)
    out = {}
    for h in (range(EXEC_HOSTS) if hosts is None else hosts):
        for g in range(12):
            out[(data.hosts[h], ts[g])] = float(per_bucket[h, g])
    return out


def _hosts_in(data, dc):
    return [h for h in range(EXEC_HOSTS) if dc < 0 or data.dcs[h] == dc]


def _exp_bucket_sum(data, pn, j):
    return _rows_by_host(data, pn, j, data.window(pn, j).sum(axis=2),
                         _hosts_in(data, pn["dc"]))


def _exp_map_window(data, pn, j):
    mean = data.window(pn, j).sum(axis=2) / pn["w"]
    win = np.stack([mean, np.roll(mean, 1, axis=1), np.roll(mean, 2, axis=1)])
    win[1, :, 0] = -np.inf
    win[2, :, :2] = -np.inf
    return _rows_by_host(data, pn, j, win.max(axis=0))


def _exp_filter_last(data, pn, j):
    last = data.window(pn, j)[:, :, -1]
    thr = data.last_median(pn, j)
    keep = [h for h in range(EXEC_HOSTS) if last[h, -1] > thr]
    return _rows_by_host(data, pn, j, last, keep)


def _exp_size(data, pn, j):
    return {("size", 0): float(len(_hosts_in(data, pn["dc"])) * 12 * pn["w"])}


def _exp_size_rate(data, pn, j):
    return {("size", 0): float(len(_hosts_in(data, pn["dc"])) * 12)}


def _exp_rename(data, pn, j):
    return _rows_by_host(data, pn, j, data.window(pn, j).min(axis=2))


def _raw_rows(data, pn, j, per_point):
    ticks = data.ticks[j - 12 * pn["w"] + 1: j + 1]
    return {(data.hosts[h], int(t)): float(v)
            for h in _hosts_in(data, pn["dc"])
            for t, v in zip(ticks, per_point[h])}


def _exp_fetch_raw(data, pn, j):
    return _raw_rows(data, pn, j, data.window(pn, j).reshape(EXEC_HOSTS, -1))


def _exp_map_hour(data, pn, j):
    x = data.window(pn, j).reshape(EXEC_HOSTS, -1)
    return _raw_rows(data, pn, j, np.cumsum(x, axis=1))


def _exp_reduce_dc(data, pn, j):
    sums = data.window(pn, j).sum(axis=2)
    ts = data.bucket_ticks(pn, j)
    return {("dc%d" % d, ts[g]): float(sums[data.dcs == d, g].sum())
            for d in range(EXEC_DCS) for g in range(12)}


def _other_class(c):
    """APPLY's second operand: the class after `c`."""
    return EXEC_CLASSES[(EXEC_CLASSES.index(c) + 1) % len(EXEC_CLASSES)]


def _exp_apply_sub(data, pn, j):
    other = (pn["cls"] + 1) % len(EXEC_CLASSES)
    diff = data.window(pn, j).sum(axis=2) - data.window(pn, j, other).sum(axis=2)
    return _rows_by_host(data, pn, j, diff)


# kind -> (program, oracle, window in hours)
TEMPLATES = {
    # BUCKETIZE (w02): per-host bucket sums
    "bucket_sum": (lambda c, w, dc, now, thr: "%s UNBUCKETIZE"
                   % _bucketize(c, w, dc, now, "sum"), _exp_bucket_sum, 6),
    # MAP window (w03): max over the current and two previous buckets
    "map_window": (lambda c, w, dc, now, thr: "[ %s mapper.max 2 0 0 ] MAP"
                   % _bucketize(c, w, -1, now, "mean"), _exp_map_window, 12),
    # FILTER (w05): series whose last bucket exceeds the median of the
    # last buckets (so about half the series pass, whatever the seed)
    "filter_last": (lambda c, w, dc, now, thr: "[ %s [ ] %.1f filter.last.gt ] FILTER"
                    % (_bucketize(c, w, -1, now, "last"), thr), _exp_filter_last, 24),
    # scalar words (w07): point count of one dc's window
    "size": (lambda c, w, dc, now, thr: "%s SIZE" % _fetch(c, w, dc, now), _exp_size, 24),
    # RENAME (w08) of bucketized minima
    "rename": (lambda c, w, dc, now, thr: "%s UNBUCKETIZE '+.panel' RENAME"
               % _bucketize(c, w, -1, now, "min"), _exp_rename, 3),
    # FETCH (w01) of one dc's raw points
    "fetch_raw": (lambda c, w, dc, now, thr: _fetch(c, w, dc, now), _exp_fetch_raw, 1),
    # MAP with a 1 h time window (w03's negative pre) over raw points
    "map_hour": (lambda c, w, dc, now, thr: "[ %s mapper.sum 0 1 h - 0 0 ] MAP"
                 % _fetch(c, w, -1, now), _exp_map_hour, 1),
    # scalar arithmetic on the stack (w07): points per series-hour
    "size_rate": (lambda c, w, dc, now, thr: "%s SIZE %d /" % (_fetch(c, w, dc, now), w),
                  _exp_size_rate, 6),
}

# Templates /api/v0/exec cannot answer at the commit this benchmark was
# written against (HTTP 400, [UNRESOLVED_COLUMN] class: the frames of
# REDUCE and APPLY have the flattened (label, ts, vdouble) shape). A
# workload's ops must not fail, so they are not in the request mix: each
# is sent once after the timed phase and its outcome printed, not counted.
EXCLUDED = {
    # REDUCE (w04): per-dc sums of the per-host bucket sums
    "reduce_dc": (lambda c, w, dc, now, thr: "[ %s [ 'dc' ] reducer.sum ] REDUCE"
                  % _bucketize(c, w, -1, now, "sum"), _exp_reduce_dc, 12),
    # APPLY (w06): per-host difference of two classes' bucket sums
    "apply_sub": (lambda c, w, dc, now, thr: "[ [ %s ] [ %s ] [ 'host' ] op.sub ] APPLY"
                  % (_bucketize(c, w, -1, now, "sum"),
                     _bucketize(_other_class(c), w, -1, now, "sum")), _exp_apply_sub, 6),
}

ALL_TEMPLATES = dict(TEMPLATES, **EXCLUDED)

ONE_DC_KINDS = ("size", "fetch_raw")


def parse_exec(body, kind):
    """Engine response -> {key: value} in the shape `expected` returns."""
    stack = json.loads(body)
    if kind in ("size", "size_rate"):
        return {("size", 0): float(stack[0])}
    label = "dc" if kind == "reduce_dc" else "host"
    out = {}
    for row in stack[0]:
        k = (row["l"].get(label), int(row["t"]))
        if k in out:
            raise ValueError("duplicate row %r" % (k,))
        if kind == "rename" and not row["c"].endswith(".panel"):
            raise ValueError("class not renamed: %s" % row["c"])
        out[k] = float(row["v"]) if row.get("v") is not None else float("nan")
    return out


def same_answer(got, want):
    """Equal key sets and values within a relative tolerance of 1e-9."""
    if got.keys() != want.keys():
        return False
    for k, w in want.items():
        g = got[k]
        if not abs(g - w) <= 1e-9 * max(1.0, abs(w)):
            return False
    return True


# ------------------------------------------------------------- documents

def make_docs(seed, n_docs):
    """Documents of 30-60 words over 3,000 words; ~6% of them are
    near-copies of an earlier document with two words replaced."""
    rng = rng_for(seed, 20)
    docs = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.06:
            src = docs[int(rng.integers(0, len(docs)))][1].split(" ")
            for _ in range(2):
                src[int(rng.integers(0, len(src)))] = "w%04d" % rng.integers(3000)
            docs.append((i, " ".join(src)))
        else:
            words = rng.integers(0, 3000, size=int(rng.integers(30, 61)))
            docs.append((i, " ".join("w%04d" % w for w in words)))
    return docs


def _perm(i):
    return (2654435761 * (i + 1)) % LSH_P, (40503 * (i + 1) + 7) % LSH_P


def expected_dedup(docs):
    """The text pass replayed in Python: MinHash over distinct word
    3-gram shingles (60-bit md5 prefix), 4 bands of 2, exact Jaccard on
    the candidates, connected components labelled by their least id.
    Returns (candidates, verified pairs, {doc_id: cluster})."""
    hashes = {}
    bands = {}
    for doc_id, text in docs:
        w = text.split(" ")
        if len(w) < 3:
            continue
        sh = {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}
        hs = np.array(sorted({int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                              for s in sh}), dtype=object)
        hashes[doc_id] = set(hs.tolist())
        hm = np.array([h % LSH_P for h in hs], dtype=np.int64)
        sig = [int(((hm * a + b) % LSH_P).min()) for a, b in map(_perm, range(LSH_PERMS))]
        for bi in range(LSH_PERMS // 2):
            bands.setdefault((bi, sig[2 * bi], sig[2 * bi + 1]), []).append(doc_id)
    cand = set()
    for ids in bands.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                cand.add((min(a, b), max(a, b)))
    pairs = []
    for a, b in cand:
        inter = len(hashes[a] & hashes[b])
        if inter / (len(hashes[a]) + len(hashes[b]) - inter) >= DEDUP_THRESHOLD:
            pairs.append((a, b))
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for p in pairs for x in p}
    return len(cand), len(pairs), {x: find(x) for x in nodes}
