"""Load generators: the client side of each workload, in this one
process. Every op is recorded as (send, end, ok, detail); checking
happens after the timed phase so it never slows the load."""
import http.client
import os
import threading
import time
import urllib.parse

import duckdb
import numpy as np

from . import gen


class Op:
    __slots__ = ("key", "t0", "t1", "status", "body", "error")

    def __init__(self, key, t0, t1, status, body, error=None):
        self.key, self.t0, self.t1 = key, t0, t1
        self.status, self.body, self.error = status, body, error

    @property
    def ms(self):
        return (self.t1 - self.t0) * 1e3


class Http:
    """One keep-alive connection; reconnects after a failure."""

    def __init__(self, port, timeout=60):
        self.port, self.timeout = port, timeout
        self.conn = None

    def send(self, method, path, body=None):
        if self.conn is None:
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                   timeout=self.timeout)
        try:
            self.conn.request(method, path, body=body)
            r = self.conn.getresponse()
            return r.status, r.read()
        except Exception:
            self.conn.close()
            self.conn = None
            raise


def closed_loop(port, seconds, clients, request, block=1):
    """`clients` threads, each sending its next request as soon as the
    previous one returns, until `seconds` have passed and the next
    request starts a new block of `block` requests (so every run sends
    whole blocks, at least one). `request(i)` gives (method, path, body)
    of the i-th request of the run."""
    lock = threading.Lock()
    state = {"next": 0, "stop": False}
    ops = []
    start = time.perf_counter()
    deadline = start + seconds

    def client():
        http_ = Http(port)
        while True:
            with lock:
                i = state["next"]
                if state["stop"] or (i % block == 0 and i > 0
                                     and time.perf_counter() >= deadline):
                    state["stop"] = True
                    break
                state["next"] += 1
            method, path, body = request(i)
            t0 = time.perf_counter()
            try:
                status, data = http_.send(method, path, body)
                err = None
            except Exception as e:  # refused, reset or timed out
                status, data, err = -1, b"", repr(e)
            op = Op(i, t0, time.perf_counter(), status, data, err)
            with lock:
                ops.append(op)
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ops.sort(key=lambda o: o.key)
    return ops, start


# --------------------------------------------------------- exec-dashboard

class ExecLoad:
    def __init__(self, data):
        self.data = data
        self._seq = data.sequence()
        self._entries = []      # (panel, now, program), built on first use
        self._lock = threading.Lock()
        self._expected = {}

    # a run sends whole cycles of the panels, so every run and every seed
    # times the same panel mix
    block = len(gen.TEMPLATES) * gen.EXEC_VARIANTS

    def entry(self, i):
        """(panel, now, program text) of request i of the run."""
        with self._lock:
            while len(self._entries) <= i:
                panel, now = next(self._seq)
                self._entries.append((panel, now, self.data.program(panel, now)))
            return self._entries[i]

    def program(self, i):
        return self.entry(i)[2]

    def request(self, offset):
        return lambda i: ("POST", "/api/v0/exec", self.program(offset + i).encode())

    def warm(self, port, clients):
        """Before timing: two cycles of every panel from `clients` clients,
        at a NOW the timed requests never use. Latency keeps falling over
        the first cycles of a fresh JVM (JIT), so timing them would make
        the run depend on how far warm-up got."""
        now = gen.EXEC_TICKS - 1 - 2 * 288
        programs = [self.data.program(p, now).encode() for p in range(self.block)]
        closed_loop(port, 0, clients,
                    lambda i: ("POST", "/api/v0/exec", programs[i % self.block]),
                    2 * self.block)

    def verdict(self, op, panel, now, program):
        """None if `op` answered panel at now correctly, else the reason."""
        if op.status != 200:
            return "HTTP %d %s %s" % (op.status, op.error or "", op.body[:200])
        want = self._expected.get((panel, now))
        if want is None:
            want = self._expected[(panel, now)] = self.data.expected(panel, now)
        try:
            if gen.same_answer(gen.parse_exec(op.body, self.data.panels[panel]["kind"]),
                               want):
                return None
            why = "answer differs from the oracle"
        except Exception as e:
            why = "unparseable answer: %r" % e
        return "%s (%s)" % (why, program[:160])

    def check(self, ops, offset=0):
        """Failed ops as [(name, template, reason)]."""
        bad = []
        for o in ops:
            panel, now, program = self.entry(offset + o.key)
            why = self.verdict(o, panel, now, program)
            if why:
                bad.append(("req-%d" % (offset + o.key),
                            self.data.panels[panel]["kind"], why))
        return bad

    def probe_excluded(self, port):
        """Each gen.EXCLUDED template once, untimed and uncounted:
        {template: "ok" or the reason it failed}."""
        now = gen.EXEC_TICKS - 1
        out = {}
        for panel in self.data.excluded:
            program = self.data.program(panel, now)
            ops, _ = closed_loop(port, 0, 1,
                                 lambda i: ("POST", "/api/v0/exec", program.encode()))
            out[self.data.panels[panel]["kind"]] = \
                self.verdict(ops[0], panel, now, program) or "ok"
        return out

    def repeat_share(self, ops, offset=0):
        seen, rep = set(), 0
        for o in ops:
            p = self.program(offset + o.key)
            rep += p in seen
            seen.add(p)
        return rep / max(len(ops), 1)


# ---------------------------------------------------------- ingest-fetch

FETCH_WINDOW_US = 60_000_000    # longer than a run, so no fetch misses a tick


class IngestLoad:
    """Open-loop writer of one line-protocol file per tick, plus
    closed-loop readers fetching the last minute of a series group.

    Each file the writer is due to write within the timed seconds is a
    write op: its latency is the time from its due time to the end of the
    first fetch that returned its tick, and it fails if that takes more
    than `visible_limit_s`. Writer and readers go on for that limit after
    the timed seconds, so the last timed file gets the same chance."""

    def __init__(self, seed, in_dir, period_s, warm_files, visible_limit_s):
        self.seed, self.in_dir = seed, in_dir
        self.period_s, self.period_us = period_s, int(round(period_s * 1e6))
        self.warm_files = warm_files
        self.visible_limit_s = visible_limit_s
        self.written = warm_files
        self.timed_writes = []       # (tick index, due perf_counter time)
        self.late_ms = []
        os.makedirs(in_dir, exist_ok=True)

    def write_file(self, k):
        tmp = os.path.join(self.in_dir, ".%06d.tmp" % k)
        with open(tmp, "w") as f:
            f.write(gen.ingest_lines(self.seed, k, self.period_us))
        os.rename(tmp, os.path.join(self.in_dir, "%06d.txt" % k))

    def write_warm(self):
        for k in range(self.warm_files):
            self.write_file(k)

    def warm(self, port):
        """Six fetches over the warm-up files before timing."""
        h = Http(port)
        for i in range(6):
            q = urllib.parse.urlencode({
                "selector": "ingest.m{g=g%02d}" % i, "start": gen.INGEST_EPOCH,
                "stop": gen.INGEST_EPOCH + self.warm_files * self.period_us,
                "format": "text"})
            h.send("GET", "/api/v0/fetch?" + q)

    def tick_at(self, t):
        """Tick the writer is due to have reached at perf_counter t."""
        return gen.INGEST_EPOCH + int(
            (self.k0 - 1 + (t - self.t0) / self.period_s) * self.period_us)

    def run(self, port, seconds, readers):
        """Write and read for `seconds` plus the visibility limit; a later
        call continues the ticks. Returns (fetch ops, start)."""
        self.t0 = time.perf_counter()
        self.k0 = self.written
        timed_end = self.t0 + seconds
        deadline = timed_end + self.visible_limit_s

        def writer():
            k = self.k0
            while True:
                due = self.t0 + (k - self.k0 + 1) * self.period_s
                if due >= deadline:
                    break
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self.late_ms.append(max(0.0, (time.perf_counter() - due) * 1e3))
                self.write_file(k)
                if due < timed_end:
                    self.timed_writes.append((k, due))
                k += 1
                self.written = k

        groups = gen.INGEST_SERIES // gen.INGEST_GROUP

        def request(i):
            rng = np.random.default_rng([self.seed, 77, i])
            now = self.tick_at(time.perf_counter())
            q = urllib.parse.urlencode({
                "selector": "ingest.m{g=g%02d}" % rng.integers(groups),
                "start": now - FETCH_WINDOW_US + 1, "stop": now,
                "format": "text"})
            return ("GET", "/api/v0/fetch?" + q, None)

        w = threading.Thread(target=writer)
        w.start()
        ops, start = closed_loop(port, deadline - self.t0, readers, request)
        w.join()
        return ops, start

    def check(self, ops):
        """Every fetched point equals the generator's value for its
        (series, tick). Returns (failed fetches [(name, "fetch", reason)],
        latencies of the ok fetches in ms, their staleness in ms, {tick
        index: end of the first ok fetch that returned it})."""
        bad, ok_ms, lags, seen = [], [], [], {}
        for o in ops:
            name = "fetch-%d" % o.key
            if o.status != 200:
                bad.append((name, "fetch", "HTTP %d %s" % (
                    o.status, o.error or o.body[:200])))
                continue
            newest, why, ks = None, None, set()
            for line in o.body.decode().splitlines():
                try:
                    ts_s, rest = line.split("// ", 1)
                    sel, val = rest.rsplit(" ", 1)
                    s = int(sel[sel.index("s=s") + 3: sel.index("}")])
                    ts = int(ts_s)
                    k, r = divmod(ts - gen.INGEST_EPOCH, self.period_us)
                    if r or not 0 <= k < self.written:
                        why = "tick %d was never written" % ts
                    elif float(val) != float(gen.ingest_value(self.seed, s, k)):
                        why = "value %s for s%03d at k=%d" % (val, s, k)
                    newest = ts if newest is None else max(newest, ts)
                    ks.add(k)
                except ValueError:
                    why = "unparseable line %r" % line[:120]
                if why:
                    break
            if why or newest is None:
                bad.append((name, "fetch", why or "no point returned"))
                continue
            ok_ms.append(o.ms)
            lags.append((self.tick_at(o.t0) - newest) / 1e3)
            for k in ks:
                seen[k] = min(seen.get(k, o.t1), o.t1)
        return bad, ok_ms, lags, seen

    def visibility(self, seen):
        """Write ops from `check`'s `seen`: (latencies in ms of the files
        seen within the limit, failed writes [(name, "write", reason)])."""
        lat, bad = [], []
        for k, due in self.timed_writes:
            ms = (seen[k] - due) * 1e3 if k in seen else None
            if ms is None or ms > self.visible_limit_s * 1e3:
                bad.append(("write-%d" % k, "write",
                            "not returned by a fetch within %g s of its due time"
                            % self.visible_limit_s))
            else:
                lat.append(ms)
        return lat, bad

    def check_sink(self, sink):
        """After the drain: the sink holds exactly the offered points."""
        con = duckdb.connect()
        rows = con.execute(
            "SELECT CAST(substr(map_extract(labels, 's')[1], 2) AS INTEGER), ts, "
            "vdouble FROM read_parquet(?)",
            [os.path.join(sink, "*.parquet")]).fetchnumpy()
        con.close()
        s, ts, v = rows[list(rows)[0]], rows["ts"], rows["vdouble"]
        k = (ts - gen.INGEST_EPOCH) // self.period_us
        offered = self.written * gen.INGEST_SERIES
        problems = []
        if len(ts) != offered:
            problems.append("sink holds %d points, %d offered" % (len(ts), offered))
        keys = s.astype(np.int64) * (self.written + 1) + k
        if len(np.unique(keys)) != len(keys):
            problems.append("duplicate (series, tick) in the sink")
        wrong = int((v != gen.ingest_value(self.seed, s, k)).sum())
        if wrong:
            problems.append("%d sink values differ from the generator" % wrong)
        return problems, offered
