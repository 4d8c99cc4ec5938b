"""The benchmark's workloads: seeded inputs, the closed-loop driver of
each pipeline, and the reference each run is checked against.

Every workload is closed loop with one step in flight: ``step(i)`` hands
the i-th pre-generated input to the program's public entry point and
returns once the step's results are committed and visible to readers;
``read(i)`` then performs that step's reads. Inputs are generated in
``__init__`` from the seed, before anything is timed.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import random
import time
from collections import Counter

from layers import (
    ProgressCursor,
    handoff_rows,
    query_ms,
    sink_rows,
    step_layers,
    updated_rows,
)


def zipf_sampler(rng: random.Random, keys: list[str], s: float = 1.0):
    """Draw from ``keys`` with Zipf(s) popularity, ``keys[0]`` hottest.
    The rank order is fixed, so every seed puts the hot keys in the same
    hash buckets and only the draw sequence varies with the seed."""
    cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(keys))))
    return lambda k=1: rng.choices(keys, cum_weights=cum, k=k)


class FKJoinChurn:
    """Two-stage FK join (``streaming.fk_join.FKJoinReplay``,
    ``n_buckets=16``) under left-side churn that forces re-subscription.

    Preload: every fk on the right, every pk on the left. Each step
    pipes LEFT_PER_STEP Zipf-skewed left upserts (a third change their
    fk, 5% are tombstones) and then RIGHT_PER_STEP right upserts (5%
    tombstones). After each step the consumer polls the join changelog
    with ``drain()`` POLLS_PER_STEP times: the first poll returns what
    the step emitted, the rest return nothing, and each poll reads the
    whole output table, so every poll times the same read path.
    """

    name = "fk_join_churn"
    N_PK, N_FK = 4000, 200
    LEFT_PER_STEP, RIGHT_PER_STEP = 1000, 100
    POLLS_PER_STEP = 5
    STEP_S = 4.3  # wall budget per timed step on a 4-core host
    WARMUP = 1
    USES_TWS = True
    LEFT = "pk string, fk string, name string, is_delete boolean, seq long"
    RIGHT = "rk string, rank int, is_delete boolean, seq long"

    def __init__(self, seed: int, seconds: int) -> None:
        rng = random.Random(seed)
        pks = [f"p{i:05d}" for i in range(self.N_PK)]
        fks = [f"f{i:03d}" for i in range(self.N_FK)]
        self.n_steps = self.WARMUP + max(3, round(seconds / self.STEP_S))
        self.pre_right = [(f, rng.randrange(1000), False) for f in fks]
        self.pre_left = [(p, rng.choice(fks), f"n{p}", False) for p in pks]
        cur_fk = {p: fk for p, fk, _, _ in self.pre_left}
        draw_pk = zipf_sampler(rng, pks)
        self.steps = []
        for s in range(self.n_steps):
            left = []
            for pk in draw_pk(self.LEFT_PER_STEP):
                if rng.random() < 0.05:
                    left.append((pk, None, None, True))
                    cur_fk.pop(pk, None)
                    continue
                if pk not in cur_fk or rng.random() < 1 / 3:
                    cur_fk[pk] = rng.choice(fks)
                left.append((pk, cur_fk[pk], f"n{pk}s{s}", False))
            right = [(f, None, True) if rng.random() < 0.05
                     else (f, rng.randrange(1000), False)
                     for f in rng.choices(fks, k=self.RIGHT_PER_STEP)]
            self.steps.append((left, right))

    def events(self, i: int) -> int:
        left, right = self.steps[i]
        return len(left) + len(right)

    def start(self, spark, tracer) -> None:
        from kafka_streams_app_spark.streaming.fk_join import FKJoinReplay

        self.spark, self.tracer = spark, tracer
        self.replay = FKJoinReplay(
            spark, self.LEFT, self.RIGHT, pk="pk", fk="fk",
            left_payload=["fk", "name"], left_tombstone="is_delete",
            right_key="rk", right_payload=["rank"], right_tombstone="is_delete",
            how="inner", n_buckets=16,
        )
        head = self.replay.q1
        tail = next(q for q in spark.streams.active if q.id != head.id)
        self.cursor = ProgressCursor({"head": head, "tail": tail})
        self.tail_name = tail.name  # the join's memory sink table
        self.replay.pipe_right(self.pre_right)
        self.replay.pipe_left(self.pre_left)
        self.drained = len(self.replay.drain())

    def step(self, i: int) -> None:
        left, right = self.steps[i]
        with self.tracer.span(i, "deliver_left", "step", rows=len(left)):
            self.replay.pipe_left(left)
        with self.tracer.span(i, "deliver_right", "step", rows=len(right)):
            self.replay.pipe_right(right)

    def trace_step(self, i: int, step_ms: float) -> None:
        ev = self.cursor.new()
        t = self.tracer
        for k, v in step_layers(ev, step_ms, self.events(i)).items():
            t.add(k, v)
        t.add("harness.head_query_ms", query_ms(ev["head"]))
        t.add("harness.tail_query_ms", query_ms(ev["tail"]))
        t.add("fk.handoff_rows", handoff_rows(ev["head"], ev["tail"]))
        t.add("out.emitted_per_input", sink_rows(ev["tail"]) / self.events(i))
        t.add_progress(i, ev)

    def read(self, i: int) -> list[float]:
        lat = []
        for _ in range(self.POLLS_PER_STEP):
            t0 = time.perf_counter()
            rows = self.replay.drain()
            lat.append((time.perf_counter() - t0) * 1e3)
            self.drained += len(rows)
            self.tracer.add("read.engine_ms", lat[-1])
        return lat

    def stop(self) -> None:
        self.replay.stop()

    def expected(self) -> dict:
        left, right = {}, {}
        rows = [("r", r) for r in self.pre_right] + [("l", r) for r in self.pre_left]
        for lft, rgt in self.steps:
            rows += [("l", r) for r in lft] + [("r", r) for r in rgt]
        for side, r in rows:
            tbl = left if side == "l" else right
            if r[-1]:
                tbl.pop(r[0], None)
            else:
                tbl[r[0]] = r[1:-1]
        return {pk: (name, right[fk][0]) for pk, (fk, name) in left.items()
                if fk in right}

    def check(self) -> tuple[int, int]:
        """End state (latest row per pk of the emitted changelog, in its
        own (_seq, _minor) order) against the inner join of the final
        left and right snapshots. One operation per pk compared, plus
        one for the drained row count."""
        log = self.spark.table(self.tail_name).collect()
        latest = {}
        for r in sorted(log, key=lambda r: (r["_seq"], r["_minor"])):
            latest[r["pk"]] = r
        got = {pk: (r["name"], r["r_rank"]) for pk, r in latest.items()
               if r["action"] == "upsert"}
        want = self.expected()
        keys = set(got) | set(want)
        failed = sum(got.get(k) != want.get(k) for k in keys)
        failed += self.drained != len(log)
        return len(keys) + 1, failed


class WindowIQ:
    """Windowed count (``streaming.windows.windowed_count_stream``, 60 s
    windows, 30 s grace) mirrored by ``streaming.sinks.StoreMirror`` and
    served by ``iq_service.IQService`` over HTTP.

    Each step lands EVENTS_PER_STEP events (Zipf over N_USERS users,
    20 s of event time, 10% up to 20 s out of order, so none falls
    behind the watermark) as one parquet file in the source directory,
    waits for the aggregation to commit, and refreshes the store view.
    The reads after each step come from one client, one request at a
    time: mostly Q4 window fetches on Zipf keys, some Q3 key ranges and
    Q5 fetchAll.
    """

    name = "window_iq"
    N_USERS = 5000
    EVENTS_PER_STEP = 2000
    READS_PER_STEP = 7
    STEP_S = 2.0  # wall budget per timed step on a 4-core host
    WARMUP = 3
    USES_TWS = False
    WINDOW_S, GRACE_S, SPAN_S = 60, 30, 20
    EPOCH = 1_700_000_040  # a window boundary
    STORE = "window_counts"

    def __init__(self, seed: int, seconds: int) -> None:
        rng = random.Random(seed)
        users = [f"u{i:04d}" for i in range(self.N_USERS)]
        draw = zipf_sampler(rng, users)
        timed = max(15, round(seconds / self.STEP_S))
        self.n_steps = self.WARMUP + timed
        dt_us = self.SPAN_S * 1_000_000 // self.EVENTS_PER_STEP
        clock = self.EPOCH * 1_000_000
        self.steps, self.reads = [], []
        for _ in range(self.n_steps):
            ev = []
            for u in draw(self.EVENTS_PER_STEP):
                clock += dt_us
                late = rng.randrange(1, 20 * 1_000_000) if rng.random() < 0.1 else 0
                ev.append((u, clock - late))
            self.steps.append(ev)
            cur = clock // 1_000_000 // self.WINDOW_S * self.WINDOW_S
            paths = []
            for _ in range(self.READS_PER_STEP):
                x = rng.random()
                if x < 0.85:
                    paths.append(f"/state/windowed/{self.STORE}/{draw()[0]}/"
                                 f"{cur - 2 * self.WINDOW_S}/{cur}")
                elif x < 0.95:
                    a = rng.randrange(self.N_USERS - 3)
                    paths.append(f"/state/keyvalues/{self.STORE}/range/"
                                 f"{users[a]}/{users[a + 2]}")
                else:
                    w = cur - self.WINDOW_S
                    paths.append(f"/state/windowed/{self.STORE}/all/{w}/{w}")
            self.reads.append(paths)

    def events(self, i: int) -> int:
        return len(self.steps[i])

    def start(self, spark, tracer) -> None:
        import tempfile

        from kafka_streams_app_spark.iq_service import IQService
        from kafka_streams_app_spark.streaming.sinks import StoreMirror
        from kafka_streams_app_spark.streaming.windows import windowed_count_stream

        self.spark, self.tracer = spark, tracer
        self.dir = tempfile.mkdtemp(prefix="window_iq_")
        self.src_dir = os.path.join(self.dir, "src")
        os.mkdir(self.src_dir)
        src = (spark.readStream.schema("user string, ts timestamp")
               .option("maxFilesPerTrigger", 1).parquet(self.src_dir))
        agg = windowed_count_stream(src, "ts", ["user"], self.WINDOW_S,
                                    self.GRACE_S)
        self.mirror = StoreMirror(spark, self.STORE, ["window_start_s", "user"],
                                  path=os.path.join(self.dir, "mirror"))
        self.query = self.mirror.attach(agg, os.path.join(self.dir, "ckpt"))
        self.cursor = ProgressCursor({"head": self.query})
        self.iq = IQService()
        self.conn = http.client.HTTPConnection("127.0.0.1", self.iq.start(),
                                               timeout=60)
        self.responses = []  # (step, path, status, body)
        self.counts = Counter()
        self.snapshots = []  # reference counts as of each step

    def _land(self, i: int) -> None:
        """Publish step i's events as one parquet file, atomically: the
        file source ignores dot-files, and the rename is the commit."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        users, ts = zip(*self.steps[i])
        tbl = pa.table({"user": pa.array(users, pa.string()),
                        "ts": pa.array(ts, pa.timestamp("us", tz="UTC"))})
        tmp = os.path.join(self.src_dir, f".step-{i:05d}.parquet")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.src_dir, f"step-{i:05d}.parquet"))

    def step(self, i: int) -> None:
        t = self.tracer
        with t.span(i, "deliver", "step", rows=len(self.steps[i])):
            self._land(i)
            self.query.processAllAvailable()
        with t.span(i, "iq.resolve", "step"):
            t0 = time.perf_counter()
            self.iq.register(self.STORE, self.mirror.view(), "user",
                             start_col="window_start_s")
            self.resolve_ms = (time.perf_counter() - t0) * 1e3

    def trace_step(self, i: int, step_ms: float) -> None:
        ev = self.cursor.new()
        t = self.tracer
        for k, v in step_layers(ev, step_ms, self.events(i)).items():
            t.add(k, v)
        head = query_ms(ev["head"])
        t.add("harness.head_query_ms", head)
        t.add("harness.tail_query_ms", head)
        t.add("out.emitted_per_input", updated_rows(ev["head"]) / self.events(i))
        t.add("mirror.write_ms", query_ms(ev["head"], "addBatch"))
        t.add("iq.resolve_ms", self.resolve_ms)
        t.add_progress(i, ev)

    def read(self, i: int) -> list[float]:
        t = self.tracer
        files = [os.path.join(r, f) for r, _, fs in os.walk(self.mirror.path)
                 for f in fs if f.endswith(".parquet")]
        t.add("mirror.files", len(files))
        t.add("mirror.bytes", sum(os.path.getsize(f) for f in files))
        lat = []
        for path in self.reads[i]:
            with t.span(i, "iq.http", "read", path=path):
                t0 = time.perf_counter()
                try:
                    self.conn.request("GET", path)
                    resp = self.conn.getresponse()
                    status, body = resp.status, resp.read()
                except (OSError, http.client.HTTPException):
                    self.conn.close()  # a failed read; check() counts it
                    self.responses.append((i, path, None, b""))
                    continue
                lat.append((time.perf_counter() - t0) * 1e3)
            self.responses.append((i, path, status, body))
            t.add("iq.http_ms", lat[-1])
        if t.enabled:  # the same read without HTTP, outside the timed reads
            with t.span(i, "iq.query", "read"):
                t0 = time.perf_counter()
                self.iq.query(self.reads[i][0])
                t.add("iq.query_ms", (time.perf_counter() - t0) * 1e3)
                t.add("read.engine_ms", t.samples["iq.query_ms"][-1])
        self.counts.update(
            (ts // 1_000_000 // self.WINDOW_S * self.WINDOW_S, u)
            for u, ts in self.steps[i])
        self.snapshots.append(Counter(self.counts))
        return lat

    def stop(self) -> None:
        import shutil

        self.conn.close()
        self.iq.stop()
        self.query.stop()
        shutil.rmtree(self.dir, ignore_errors=True)

    def _want(self, step: int, path: str) -> list[tuple]:
        snap = self.snapshots[step]
        parts = path.strip("/").split("/")
        if parts[1] == "keyvalues":  # Q3: every window of users in [lo, hi]
            lo, hi = parts[4], parts[5]
            sel = [(w, u) for w, u in snap if lo <= u <= hi]
        elif parts[3] == "all":  # Q5: every user, windows in [lo, hi]
            lo, hi = int(parts[4]), int(parts[5])
            sel = [(w, u) for w, u in snap if lo <= w <= hi]
        else:  # Q4: one user, windows in [lo, hi]
            user, lo, hi = parts[3], int(parts[4]), int(parts[5])
            sel = [(w, u) for w, u in snap if u == user and lo <= w <= hi]
        return sorted((w, u, snap[(w, u)]) for w, u in sel)

    def check(self) -> tuple[int, int]:
        """Every IQ response against the reference counts as of its step
        (a non-200 is a failure), plus the final store view against the
        reference window counts, one operation per (window, user)."""
        failed = 0
        for step, path, status, body in self.responses:
            if status != 200:
                failed += 1
                continue
            got = sorted((r["window_start_s"], r["user"], r["cnt"])
                         for r in json.loads(body))
            failed += got != self._want(step, path)
        final = {(r["window_start_s"], r["user"]): r["cnt"]
                 for r in self.mirror.view().collect()}
        want = self.snapshots[-1]
        keys = set(final) | set(want)
        failed += sum(final.get(k) != want.get(k) for k in keys)
        return len(self.responses) + len(keys), failed


WORKLOADS = {w.name: w for w in (FKJoinChurn, WindowIQ)}
