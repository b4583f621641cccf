"""Stream workloads: the open-loop load generator, and the latency,
throughput and correctness figures read back from the checkpoint and the
sink after the run, so the timed run needs no listener.

The generator is this single-threaded process. It renders every file from
the seed before the run starts, then writes each one on its schedule by an
atomic rename into the source directory and records in a manifest when it
was due and when it landed.

Phases of a run (wall clock, after the pipeline has started), each
starting once the previous one has drained:
  warm-up   WARMUP_S at the steady rate, whose first batch is the cold
            trigger (cold_wall_s), then WARMUP_BURSTS bursts; not measured
  overload  overload_s / BURST_S bursts of `burst_rows` rows written at
            BURST_RATE rows/s, far above capacity; each burst drains before
            the next one starts, and throughput is burst rows over the time
            from its first due file to the commit of the batch that reads
            its last file
  steady    a fixed rate below capacity; latency_p50_ms / latency_p99_ms
  end       Demo2 only: one sentinel event 10 event-minutes ahead, which
            fires every open window, so every admitted event is in a pane
"""
import json
import os
import statistics
import time

import numpy as np

WARMUP_S = 3.0
WARMUP_BURSTS = 8  # unmeasured bursts that get big batches JIT-compiled
# The overload phase measures a fixed number of bursts, one per BURST_S of
# it, so every run takes its median over as many bursts, however fast the
# host is that day.
BURST_S = 1.25
FILE_EVERY_S = 0.1
BURST_RATE = 2_000_000  # rows/s while a burst is written
DRAIN_TIMEOUT_S = 60.0

# Per-workload load shape. The steady rate sits far below what either
# pipeline drains in 60 000-row batches on a 4-vCPU host (about 50 000
# rows/s); a burst is sized to drain in about a second there.
WORKLOADS = {
    "demo1_etl_stream": dict(steady_rate=4000, burst_rows=60000,
                             malformed=0.02, users=10000),
    "demo2_late_panes_stream": dict(steady_rate=4000, burst_rows=60000,
                                    malformed=0.01, users=5000, zipf_s=1.1,
                                    ratio=120, out_of_order=0.10, late=0.03,
                                    too_late=0.01),
}
# Demo2's window count runs on the same input as its late panes.
WORKLOADS["demo2_window_count_stream"] = WORKLOADS["demo2_late_panes_stream"]

BASE_EPOCH_S = 1_700_000_000
WINDOW_S = 60
HORIZON_S = 120  # the pipelines' 2-minute watermark delay
MALFORMED = ['not json at all', '{"event_time": 17000', '{"user_id": 7, "click": 1}',
             '{"event_time": "soon", "user_id": 7, "click": 1}']


class Plan:
    """Every file of one run, rendered up front from the seed."""

    def __init__(self, workload, seed, steady_s, overload_s):
        cfg = WORKLOADS[workload]
        self.demo2 = workload.startswith("demo2")
        self.late_panes = workload == "demo2_late_panes_stream"
        # Late panes fire a window once the event time passes its end; the
        # window count emits it once the watermark, a horizon behind, does.
        self.fire_after_s = WINDOW_S + (0 if self.late_panes else HORIZON_S)
        self.rng = np.random.default_rng(seed)
        self.cfg = cfg
        self.steady_s = steady_s
        self.overload_s = overload_s
        self.files = []  # dicts: phase, offset_s (nominal), created_s, counts, data
        # demo2, per well-formed row: (event time s, user, admitted, file, created s)
        self.events = []
        if self.demo2:
            s = cfg["zipf_s"]
            p = 1.0 / np.arange(1, cfg["users"] + 1) ** s
            self.zipf_p = p / p.sum()
        per_file = int(cfg["steady_rate"] * FILE_EVERY_S)
        t = self._steady_files("warmup", 0.0, WARMUP_S, per_file)
        # Bursts: enough for the overload phase; unused ones are not written.
        n_files = max(1, int(cfg["burst_rows"] / (BURST_RATE * FILE_EVERY_S)))
        rows_per_file = cfg["burst_rows"] // n_files
        burst_span = cfg["burst_rows"] / BURST_RATE
        self.bursts = []
        for b in range(WARMUP_BURSTS + max(1, round(self.overload_s / BURST_S))):
            start = t + b * 2.0  # nominal spacing: event time keeps advancing
            ids = [self._add("burst", start + (i + 1) * burst_span / n_files,
                             rows_per_file, burst_span / n_files)
                   for i in range(n_files)]
            self.bursts.append(ids)
        t += len(self.bursts) * 2.0
        self._steady_files("steady", t, t + self.steady_s, per_file)
        if self.demo2:
            last = max(e[0] for e in self.events)
            self.sentinel = self._render_lines(
                [json.dumps({"event_time": last + 600, "user_id": 0, "click": 1})])

    def _steady_files(self, phase, t, end, per_file):
        while t < end - 1e-9:
            self._add(phase, t + FILE_EVERY_S, per_file, FILE_EVERY_S)
            t += FILE_EVERY_S
        return t

    def _event_time(self, offset_s):
        return BASE_EPOCH_S + offset_s * self.cfg.get("ratio", 1)

    def _add(self, phase, offset_s, rows, span_s):
        cfg, rng = self.cfg, self.rng
        # creation time of each row, spread over the file's interval
        created = offset_s - span_s + (np.arange(rows) + 0.5) * span_s / rows
        bad = rng.random(rows) < cfg["malformed"]
        lines, counts = [], dict(rows=rows, malformed=int(bad.sum()), late=0, too_late=0)
        if self.demo2:
            users = rng.choice(len(self.zipf_p), rows, p=self.zipf_p) + 1
            kind = rng.random(rows)
            et = self._event_time(created)
            shift = np.where(kind < cfg["out_of_order"], rng.uniform(0, 3, rows), 0.0)
            late = (kind >= cfg["out_of_order"]) & (kind < cfg["out_of_order"] + cfg["late"])
            shift = np.where(late, rng.uniform(65, 100, rows), shift)
            # Too late means behind an established watermark, so none in the
            # warm-up: before its batches commit there is no watermark yet.
            too = ((kind >= cfg["out_of_order"] + cfg["late"]) &
                   (kind < cfg["out_of_order"] + cfg["late"] + cfg["too_late"]) &
                   (phase != "warmup"))
            shift = np.where(too, rng.uniform(1800, 2400, rows), shift)
            et = np.floor(et - shift).astype(np.int64)
        else:
            users = rng.integers(0, cfg["users"], rows)
            et = np.floor(self._event_time(created)).astype(np.int64)
            late = too = np.zeros(rows, bool)
        for i in range(rows):
            if bad[i]:
                lines.append(MALFORMED[int(rng.integers(0, len(MALFORMED)))])
                continue
            lines.append(f'{{"event_time": {et[i]}, "user_id": {users[i]}, "click": 1}}')
            if self.demo2:
                self.events.append((int(et[i]), int(users[i]), not too[i],
                                    len(self.files), float(created[i])))
        good = ~bad
        counts["late"] = int((late & good).sum())
        counts["too_late"] = int((too & good).sum())
        self.files.append(dict(phase=phase, offset_s=offset_s,
                               created_s=created[good], counts=counts,
                               data=self._render_lines(lines)))
        return len(self.files) - 1

    @staticmethod
    def _render_lines(lines):
        return ("\n".join(lines) + "\n").encode()


class Checkpoint:
    """Reads what the engine committed: which batch read each source file,
    when each batch started and committed, and what the sink holds."""

    def __init__(self, ckpt, sink):
        self.ckpt, self.sink = ckpt, sink
        self._logs = {}

    def _log(self, d):
        """name -> (mtime ns, entries) for each file of a metadata log
        directory. Log files appear by atomic rename and never change, so
        each is read once: the generator polls these while the engine runs."""
        out = {}
        for n in os.listdir(d) if os.path.isdir(d) else []:
            if n.startswith("."):
                continue
            p = os.path.join(d, n)
            if p not in self._logs:
                try:
                    with open(p) as f:
                        lines = f.read().split("\n")[1:]  # after the version line
                    self._logs[p] = (os.stat(p).st_mtime_ns,
                                     [json.loads(x) for x in lines if x.strip()])
                except FileNotFoundError:
                    continue
            out[n] = self._logs[p]
        return out

    def commits(self):
        """batch id -> commit time (ns)."""
        return {int(n): t for n, (t, _) in self._log(os.path.join(self.ckpt, "commits")).items()}

    def offsets(self):
        """batch id -> (start ns, watermark ms, file source log offset)."""
        return {int(n): (t, e[0].get("batchWatermarkMs", 0), e[1]["logOffset"])
                for n, (t, e) in self._log(os.path.join(self.ckpt, "offsets")).items()}

    def file_batches(self):
        """source file name -> id of the micro-batch that read it. The file
        source numbers its own batches, which skip batches without new
        files; the offset log maps each micro-batch to the source's."""
        first = {}
        for b, (_, _, log_offset) in sorted(self.offsets().items()):
            first.setdefault(log_offset, b)
        out = {}
        for _, entries in self._log(os.path.join(self.ckpt, "sources", "0")).values():
            for e in entries:
                if e["batchId"] in first:
                    out[os.path.basename(e["path"])] = first[e["batchId"]]
        return out

    def sink_files(self):
        """Committed sink files as (path, mtime ns), from `_spark_metadata`."""
        paths = {e["path"].replace("file://", "").replace("file:", "")
                 for _, entries in self._log(os.path.join(self.sink, "_spark_metadata")).values()
                 for e in entries if e.get("action", "add") == "add"}
        return [(p, os.stat(p).st_mtime_ns) for p in sorted(paths)]


def generate(plan, in_dir, ckpt, log):
    """Writes the plan's files on schedule while the engine runs. Returns
    the manifest (due and landed ns per written file) and phase marks."""
    os.makedirs(in_dir, exist_ok=True)
    tmp = in_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    cp = Checkpoint(ckpt, None)
    manifest = {}
    lag_ms = []

    def write(i, due_ns):
        now = time.time_ns()
        if due_ns > now:
            time.sleep((due_ns - now) / 1e9)
        name = f"f{i:06d}.json"
        with open(os.path.join(tmp, name), "wb") as f:
            f.write(plan.files[i]["data"])
        os.rename(os.path.join(tmp, name), os.path.join(in_dir, name))
        landed = time.time_ns()
        manifest[i] = dict(name=name, due_ns=due_ns, landed_ns=landed)
        lag_ms.append((landed - due_ns) / 1e6)

    def drained(ids):
        """Waits until every file in `ids` is in a committed batch."""
        names = {manifest[i]["name"] for i in ids}
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            batches = cp.file_batches()
            commits = cp.commits()
            if all(n in batches and batches[n] in commits for n in names):
                return True
            time.sleep(0.02)
        log(f"stream: files not committed within {DRAIN_TIMEOUT_S}s")
        return False

    def paced(phase):
        """Writes a phase's files on their schedule, starting on an idle
        engine on the phase's own clock, and waits for them to commit."""
        ids = [i for i, f in enumerate(plan.files) if f["phase"] == phase]
        if not ids:
            return True
        t0 = time.time_ns() - int((plan.files[ids[0]]["offset_s"] - FILE_EVERY_S) * 1e9)
        for i in ids:
            write(i, t0 + int(plan.files[i]["offset_s"] * 1e9))
        return drained(ids)

    # The bursts come before the steady phase, so that the steady phase
    # runs on code the JIT has already compiled.
    def burst(ids):
        b0 = time.time_ns()
        first_offset = plan.files[ids[0]]["offset_s"] - FILE_EVERY_S
        for i in ids:
            write(i, b0 + int((plan.files[i]["offset_s"] - first_offset) * 1e9))
        return drained(ids)

    ok = paced("warmup")
    for ids in plan.bursts[:WARMUP_BURSTS]:
        ok = ok and burst(ids)
    bursts_done = []
    for ids in plan.bursts[WARMUP_BURSTS:]:
        if ok:
            ok = burst(ids)
            bursts_done.append(ids)
    ok = ok and paced("steady")
    if plan.demo2 and ok:
        name = "f999999.json"
        with open(os.path.join(tmp, name), "wb") as f:
            f.write(plan.sentinel)
        os.rename(os.path.join(tmp, name), os.path.join(in_dir, name))
        deadline = time.time() + DRAIN_TIMEOUT_S
        ok = False
        while time.time() < deadline:
            b = cp.file_batches().get(name)
            # the batch after the sentinel's fires the timers it made due
            if b is not None and b + 1 in cp.commits():
                ok = True
                break
            time.sleep(0.02)
    return dict(manifest=manifest, bursts=bursts_done, drained=ok, lag_ms=lag_ms)


def pct(values, q):
    """Nearest-rank percentile."""
    v = sorted(values)
    if not v:
        return float("nan")
    return v[min(len(v) - 1, max(0, int(np.ceil(q / 100.0 * len(v))) - 1))]


def analyse(plan, gen, ckpt, sink, progress):
    """End-to-end metrics, per-layer stream metrics and check results."""
    cp = Checkpoint(ckpt, sink)
    commits = cp.commits()
    offsets = cp.offsets()
    batch_of = cp.file_batches()
    man = gen["manifest"]
    checks = {}

    def commit_of(i):
        b = batch_of.get(man[i]["name"])
        return commits.get(b) if b is not None else None

    # cold trigger: first file due -> commit of the batch that read it
    first = min(man)
    cold_wall_s = (commit_of(first) - man[first]["due_ns"]) / 1e9

    # throughput per burst
    burst_tp, burst_wall = [], []
    for ids in gen["bursts"]:
        rows = sum(plan.files[i]["counts"]["rows"] for i in ids)
        end = max(commit_of(i) for i in ids)
        wall = (end - man[ids[0]]["due_ns"]) / 1e9
        burst_tp.append(rows / wall)
        burst_wall.append(wall)

    # sink contents, each file mapped to the batch that committed it
    import pyarrow.parquet as pq
    order = sorted(commits.items())
    rows_by_file = []
    bytes_written = 0
    for path, mtime in cp.sink_files():
        b = next((bid for bid, c in order if c >= mtime), None)
        rows_by_file.append((b, pq.read_table(path)))
        bytes_written += os.path.getsize(path)
    sink_rows = sum(t.num_rows for _, t in rows_by_file)

    lat_ms = []
    if not plan.demo2:
        for i, m in man.items():
            f = plan.files[i]
            if f["phase"] != "steady":
                continue
            c = commit_of(i)
            due0 = m["due_ns"] - f["offset_s"] * 1e9  # run clock origin
            lat_ms.extend((c - (due0 + f["created_s"] * 1e9)) / 1e6)
        checks.update(demo1_checks(plan, man, rows_by_file))
    else:
        lat_ms = pane_latency(plan, man, batch_of, commits, rows_by_file)
        checks.update(demo2_checks(plan, man, batch_of, rows_by_file, progress))

    starts = sorted(offsets.items())
    backlog = []
    created = sorted((m["landed_ns"], batch_of.get(m["name"], 1 << 62)) for m in man.values())
    for b, (start, _, _) in starts:
        backlog.append(sum(1 for landed, fb in created if landed < start and fb >= b))
    trig = progress_stats(progress)
    # Watermark lag over the steady phase: how long after the generator
    # created event time `wm` the batch that runs with watermark `wm` starts.
    wm_lag = []
    steady = sorted(i for i in man if plan.files[i]["phase"] == "steady")
    if plan.demo2 and steady:
        f0 = plan.files[steady[0]]
        origin = man[steady[0]]["due_ns"] - f0["offset_s"] * 1e9
        lo, hi = f0["offset_s"] - FILE_EVERY_S, plan.files[steady[-1]]["offset_s"]
        for b, (start, wm, _) in starts:
            offset = (wm / 1000.0 - BASE_EPOCH_S) / plan.cfg["ratio"]
            if wm > 0 and lo <= offset <= hi:
                wm_lag.append((start - (origin + offset * 1e9)) / 1e6)
    per_layer = dict(trig)
    per_layer.update({
        "sink.rows_written": sink_rows,
        "sink.files_written": len(rows_by_file),
        "sink.bytes_written": bytes_written,
        "sources.backlog_files_max": max(backlog) if backlog else 0,
        "streaming.watermark_lag_ms_p50": statistics.median(wm_lag) if wm_lag else 0.0,
        "generator.lag_ms_p99": pct(gen["lag_ms"], 99),
    })
    if plan.demo2:
        panes = pane_rows(rows_by_file)
        per_layer["streaming.on_time_panes"] = sum(1 for p in panes if p[3] == "ON_TIME")
        per_layer["streaming.late_panes"] = sum(1 for p in panes if p[3] == "LATE")
    e2e = {
        "latency_p50_ms": pct(lat_ms, 50),
        "latency_p99_ms": pct(lat_ms, 99),
        "throughput_rows_per_s": statistics.median(burst_tp) if burst_tp else float("nan"),
        "wall_s": statistics.median(burst_wall) if burst_wall else float("nan"),
        "cold_wall_s": cold_wall_s,
    }
    info = dict(latency_samples=len(lat_ms), latency_distinct=len(set(lat_ms)),
                triggers=len(commits),
                burst_walls_s=" ".join(f"{w:.3f}" for w in burst_wall),
                trigger_ms=" ".join(str(p["duration_ms"].get("triggerExecution", 0))
                                    for p in progress))
    return e2e, per_layer, checks, info


def demo1_checks(plan, man, rows_by_file):
    """The sink holds exactly the generated well-formed rows, once each."""
    from collections import Counter
    want = Counter()
    for i in man:
        for line in plan.files[i]["data"].decode().splitlines():
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if isinstance(r.get("event_time"), int):
                want[(r["event_time"], r["user_id"], r["click"])] += 1
    got = Counter()
    for _, t in rows_by_file:
        d = t.select(["event_time", "user_id", "click"]).to_pydict()
        for et, u, c in zip(d["event_time"], d["user_id"], d["click"]):
            got[(int(et.timestamp()), u, c)] += 1
    missing = sum((want - got).values())
    extra = sum((got - want).values())
    return {"sink_equals_well_formed_input": (missing == 0 and extra == 0,
                                              f"missing={missing} extra={extra}")}


def pane_rows(rows_by_file):
    """(window start s, user, count, pane, batch) per sink row. The window
    count emits each window once, as its on-time pane."""
    out = []
    for b, t in rows_by_file:
        d = t.to_pydict()
        kinds = d.get("pane", ["ON_TIME"] * t.num_rows)
        for ws, u, c, p in zip(d["window_start"], d["user_id"], d["cnt"], kinds):
            out.append((int(ws.timestamp()), u, c, p, b))
    return out


def demo2_checks(plan, man, batch_of, rows_by_file, progress):
    from collections import Counter
    panes = [p for p in pane_rows(rows_by_file) if p[1] != 0]  # 0 = sentinel
    on_time_keys = Counter((p[0], p[1]) for p in panes if p[3] == "ON_TIME")
    on_time = sum(p[2] for p in panes if p[3] == "ON_TIME")
    late = sum(p[2] for p in panes if p[3] == "LATE")
    dropped = sum(s["dropped_by_watermark"] for p in progress for s in p["state"])
    written = set(man)
    good = [e for e in plan.events if e[3] in written]
    admitted = Counter((e[0] // WINDOW_S * WINDOW_S, e[1]) for e in good if e[2])
    sums = Counter()
    for ws, u, c, _, _ in panes:
        sums[(ws, u)] += c
    bad_keys = sum(1 for k in set(admitted) | set(sums) if admitted[k] != sums[k])
    too_late = [e for e in good if not e[2]]
    checks = {
        "pane_sums_equal_admitted": (bad_keys == 0, f"mismatched (window,user) keys={bad_keys}"),
        "one_on_time_pane_per_key": (max(on_time_keys.values(), default=1) == 1,
                                     f"most ON_TIME panes of one key={max(on_time_keys.values(), default=0)}"),
    }
    if plan.late_panes:
        # flatMapGroupsWithState sees every input row, so the watermark
        # drops are counted in rows
        checks["conservation"] = (
            on_time + late + dropped == len(good),
            f"on_time={on_time} late={late} dropped={dropped} well_formed={len(good)}")
        checks["dropped_equals_too_late"] = (dropped == len(too_late),
                                             f"dropped={dropped} too_late={len(too_late)}")
    else:
        # The aggregation drops partial aggregates, one per (window, user)
        # and input partition of a batch, so its drop count lies between
        # the too-late (batch, window, user) groups and the too-late rows.
        groups = len({(batch_of.get(man[e[3]]["name"]), e[0] // WINDOW_S, e[1])
                      for e in too_late})
        checks["conservation"] = (
            on_time + late + len(too_late) == len(good),
            f"on_time={on_time} late={late} too_late={len(too_late)} well_formed={len(good)}")
        checks["dropped_within_too_late"] = (
            groups <= dropped <= len(too_late),
            f"dropped={dropped} too_late groups={groups} rows={len(too_late)}")
    return checks


def pane_latency(plan, man, batch_of, commits, rows_by_file):
    """ON_TIME pane latency: from the creation of the first event that makes
    the pane due (at or past the window's end, plus the horizon for the
    window count) to the commit of the batch that emitted the pane."""
    written = set(man)
    first_past = {}
    # events in creation order: first one whose event time reaches each end
    evs = sorted((e[4], e[0], e[3]) for e in plan.events if e[3] in written and e[2])
    frontier = None
    for created, et, fi in evs:
        end = et // WINDOW_S * WINDOW_S  # every window ending at or before et
        if frontier is None:
            frontier = end
        while frontier <= end:
            f = plan.files[fi]
            origin = man[fi]["due_ns"] - f["offset_s"] * 1e9
            first_past.setdefault(frontier, (origin + created * 1e9, f["phase"]))
            frontier += WINDOW_S
    out = []
    for ws, u, c, p, b in pane_rows(rows_by_file):
        if p != "ON_TIME" or u == 0 or b is None:
            continue
        fp = first_past.get(ws + plan.fire_after_s)
        if fp and fp[1] == "steady":
            out.append((commits[b] - fp[0]) / 1e6)
    return out


def progress_stats(progress):
    """Per-trigger fixed costs, batch sizes and state from the engine's own
    progress reports."""
    def dur(k):
        return [p["duration_ms"].get(k, 0) for p in progress]

    trig = [p["duration_ms"].get("triggerExecution", 0) for p in progress]
    rows = [p["input_rows"] for p in progress]
    state = [s for p in progress for s in p["state"]]
    span_ms = 0.0
    if progress:
        from datetime import datetime
        ts = [datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
              for p in progress]
        span_ms = (max(ts) - min(ts)) * 1000 + trig[-1]

    def med(v):
        return statistics.median(v) if v else 0.0

    return {
        "streaming.query_planning_ms": med(dur("queryPlanning")),
        "streaming.wal_commit_ms": med(dur("walCommit")),
        "streaming.commit_offsets_ms": med(dur("commitOffsets")),
        "sources.latest_offset_ms": med(dur("latestOffset")),
        "sources.get_batch_ms": med(dur("getBatch")),
        "streaming.add_batch_ms": med(dur("addBatch")),
        "streaming.triggers": len(progress),
        "streaming.trigger_ms_p50": med(trig),
        "streaming.trigger_ms_p99": pct(trig, 99) if trig else 0.0,
        "streaming.rows_per_trigger_p50": med([r for r in rows if r > 0]),
        "streaming.busy_frac": sum(trig) / span_ms if span_ms > 0 else 0.0,
        "streaming.rows_dropped_by_watermark": sum(s["dropped_by_watermark"] for s in state),
        "state.rows_total_max": max([s["rows_total"] for s in state], default=0),
        "state.memory_bytes_max": max([s["memory_bytes"] for s in state], default=0),
        "state.commit_ms": sum(s["commit_ms"] for s in state),
        "state.rows_updated": sum(s["rows_updated"] for s in state),
        "state.rows_removed": sum(s["rows_removed"] for s in state),
        "state.sst_bytes_max": max([s["custom"].get("rocksdbSstFileSize", 0) for s in state],
                                   default=0),
    }
