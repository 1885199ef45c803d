"""live_sync: the reference's own product path, closed loop.

Four connections poll ``POST /{game}/{client}/{lastKnown}`` through
``HttpWireBridge(inline_timeout_s=...)`` -> ``serve_inline`` ->
``game_server``; each connection owns its games and cycles through
their virtual clients. The loop is closed: each connection polls again
a seeded random think time after its answer. The scripts stamp each
poll's simulated clock (``X-Sim-Now-Ms``), so after timing the batch
replay (``protocol_replay.game_response``) of every poll sent gives the
expected envelopes, and every 200 body is checked byte for byte against
it.
"""

from __future__ import annotations

import collections
import http.client
import json
import os
import statistics
import threading
import time

from perfbench import common, gen

# The bridge falls back to a 202 ACK after this long; generous so the
# first (cold) micro-batch still answers inline during set-up.
INLINE_TIMEOUT_S = 30.0
# The reference client's disconnect timeout: a poll answered later than
# this counts as failed even if the answer is a 200.
CLIENT_TIMEOUT_S = 10.0
# Micro-batches run under the full load after the first inline answer,
# before timing starts (warm-up, counted in setup_s). Batch times keep
# falling for the first ~10 of them on 4 cores.
WARM_BATCHES = 12

# Each game_server task drives a Python worker
# (transformWithStateInPandas) beside its JVM task thread, so a task
# keeps about two cores busy: one task slot per two cores keeps the
# engine's busy threads within the machine's. With one slot per core,
# a single busy process beside the run slowed round trips by 5-25 %
# (4 cores); with one per two, it did not measurably.
CORES_PER_TASK = 2

PER_LAYER = (
    "sync.rtt_ms_mean", "sync.rtt_ms_p50", "sync.rtt_ms_p90", "sync.per_s",
    "bridge.dispatch_ms_p50", "bridge.inline_answer_ratio",
    "stream.batch_ms_p50", "stream.add_batch_ms_p50", "stream.commit_ms_p50",
    "stream.planning_ms_p50", "stream.offset_ms_p50", "stream.rows_per_batch_p50",
    "stream.poll_to_deliver_ms_p50",
    "state.update_ms_p50", "state.commit_ms_p50", "state.rows_total",
    "state.memory_bytes", "state.sst_bytes",
    "operators.protocol_replay.game_response_s",
    "session.spark_start_s", "session.first_batch_ms", "trace.overhead_pct",
)
TRACE_SLICE_S = 1.0  # traced runs alternate untraced/traced slices


def _script(seed: int, conn: int):
    """Connection ``conn``'s polls as dicts, with a poll id that encodes
    the connection and the step."""
    for step, (game, user, now_ms, events, state) in enumerate(gen.live_script(seed, conn)):
        yield {"sid": conn * 10_000_000 + step, "conn": conn, "game": game,
               "user": user, "now_ms": now_ms, "events": events, "state": state}


class Loop:
    """The load generator: one thread per connection, closed loop. Each
    connection polls again a seeded random think time after its answer,
    uniform over about one micro-batch, so polls land at every phase of
    the engine's batch cycle."""

    def __init__(self, seed: int, host: str, port: int) -> None:
        self.host, self.port = host, port
        self.scripts = [_script(seed, c) for c in range(gen.LIVE_CONNECTIONS)]
        self.thinks = [gen.think_times(seed, c) for c in range(gen.LIVE_CONNECTIONS)]
        self.last_known: dict[int, int] = collections.defaultdict(int)
        self.polls: list[dict] = []
        self._lock = threading.Lock()
        # traced slices: envelope body -> deliver() calls, in call order
        self.trace_from: float | None = None
        self.delivered: dict[str, list] = collections.defaultdict(list)

    def traced_at(self, t: float) -> bool:
        return (
            self.trace_from is not None
            and t >= self.trace_from
            and int((t - self.trace_from) / TRACE_SLICE_S) % 2 == 1
        )

    def wrap_deliver(self, bridge) -> None:
        """Time each ``deliver()`` hand-back, wrapped on the instance;
        the wrapper records only inside traced slices."""
        orig = bridge.deliver

        def deliver(sync_id, response):
            t = time.perf_counter()
            if self.traced_at(t):
                with self._lock:
                    self.delivered[response].append((t, sync_id))
            orig(sync_id, response)

        bridge.deliver = deliver

    def _match_deliver(self, rec: dict) -> None:
        """Pair a received envelope with the latest ``deliver()`` call
        that handed back the same bytes."""
        with self._lock:
            calls = self.delivered.get(rec["body"])
            if calls:
                rec["t_deliver"], rec["engine_sid"] = calls.pop()

    def _poll(self, conn: int) -> None:
        rec = dict(next(self.scripts[conn]), status=None, body=None)
        game, user, events, state = rec["game"], rec["user"], rec["events"], rec["state"]
        body = {}
        if events:
            body["Events"] = [{"Type": t, "Body": b} for t, b in events]
        if state is not None:
            body["State"] = state
        payload = json.dumps(body)
        rec["t_send"] = time.perf_counter()
        try:
            c = http.client.HTTPConnection(
                self.host, self.port, timeout=INLINE_TIMEOUT_S + 5
            )
            try:
                c.request(
                    "POST",
                    f"/{game}/{user}/{self.last_known[user]}",
                    body=payload,
                    headers={"Content-Type": "application/json",
                             "X-Sim-Now-Ms": str(rec["now_ms"])},
                )
                r = c.getresponse()
                data = r.read()
                rec["status"] = r.status
            finally:
                c.close()
            rec["t_recv"] = time.perf_counter()
            rec["body"] = data.decode("utf-8")
            if r.status == 200:
                try:
                    self.last_known[user] = json.loads(data)["T"]
                except (ValueError, KeyError, TypeError):
                    pass  # a malformed envelope fails the byte check later
                if self.traced_at(rec["t_recv"]):
                    self._match_deliver(rec)
        except (OSError, http.client.HTTPException) as e:
            rec["t_recv"] = time.perf_counter()
            rec["error"] = repr(e)
        with self._lock:
            self.polls.append(rec)

    def drive(self, until) -> None:
        """Poll on every connection until ``until`` -- a perf_counter
        deadline or a predicate -- each connection on its own: poll,
        wait for the answer, think, poll again."""
        done = until if callable(until) else lambda: time.perf_counter() >= until

        def worker(conn):
            while not done():
                self._poll(conn)
                time.sleep(next(self.thinks[conn]))

        threads = [
            threading.Thread(target=worker, args=(c,), name=f"conn-{c}")
            for c in range(gen.LIVE_CONNECTIONS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def drive_until_answered(self, limit_s: float) -> bool:
        """Poll one connection until the engine answers inline (its
        first micro-batch), for at most ``limit_s``."""
        deadline = time.perf_counter() + limit_s
        while time.perf_counter() < deadline:
            self._poll(0)
            if self.polls[-1]["status"] == 200:
                return True
        return False


def _failed(rec: dict) -> bool:
    return rec["status"] != 200 or rec["t_recv"] - rec["t_send"] > CLIENT_TIMEOUT_S


def _syncs_per_s(polls: list[dict]) -> float:
    """Answered syncs per second, summed over connections, each over the
    span from its first send to its last receipt -- so a window never
    counts a part of a closed-loop cycle."""
    rate = 0.0
    for conn in range(gen.LIVE_CONNECTIONS):
        mine = [p for p in polls if p["conn"] == conn]
        span = max(p["t_recv"] for p in mine) - min(p["t_send"] for p in mine)
        rate += sum(1 for p in mine if not _failed(p)) / span
    return rate


def _expected(spark, polls: list[dict]) -> tuple[dict[int, str], float]:
    """Envelopes the engine's batch replay
    (``protocol_replay.game_response``) derives for ``polls``, by poll
    id, and the seconds it took. ``polls`` must hold every poll of each
    game up to some point: an envelope depends only on the polls of its
    game before it."""
    from goeventstream_spark.operators import protocol_replay as pr

    t0 = time.perf_counter()
    syncs = spark.createDataFrame(
        [(p["sid"], p["user"], p["now_ms"], p["game"]) for p in polls],
        "sync_id long, user_id long, poll_ms long, game_key string",
    )
    posted = spark.createDataFrame(
        [
            (p["sid"], seq, event_type, body)
            for p in polls if p["events"]
            for seq, (event_type, body) in enumerate(p["events"])
        ],
        "sync_id long, event_seq long, event_type string, body string",
    )
    states = spark.createDataFrame(
        [
            (p["sid"], json.dumps(p["state"], separators=(",", ":")))
            for p in polls if p["state"] is not None
        ],
        "sync_id long, data string",
    )
    rows = pr.game_response(syncs, posted, states, game_col="game_key").select(
        "sync_id", "response"
    )
    return {r.sync_id: r.response for r in rows.collect()}, time.perf_counter() - t0


def run(ctx) -> dict:
    from goeventstream_spark.sources.http_bridge import HttpWireBridge, serve_inline

    spark = ctx.spark
    bridge = HttpWireBridge(inline_timeout_s=INLINE_TIMEOUT_S).start()
    loop = Loop(ctx.seed, bridge.host, bridge.http_port)
    if ctx.trace:
        loop.wrap_deliver(bridge)
    q = serve_inline(
        spark, bridge, checkpoint_dir=os.path.join(ctx.work, "live-checkpoint")
    )

    def batch_id() -> int:
        last = q.lastProgress
        return -1 if last is None else last["batchId"]

    t_start = time.perf_counter()
    try:
        if not loop.drive_until_answered(limit_s=90.0):
            raise RuntimeError(
                f"no inline answer from the engine: query active={q.isActive}, "
                f"exception={q.exception()}"
            )
        first_answer_s = time.perf_counter() - t_start
        ctx.note("first inline answer")
        # One closed loop for warm-up and timing, so no poll's phase is
        # reset when timing starts: the window opens at the first check
        # after WARM_BATCHES more micro-batches and lasts ctx.seconds.
        warm = batch_id() + WARM_BATCHES
        window = ctx.seconds
        opened: dict[str, float] = {}

        def done() -> bool:
            now = time.perf_counter()
            if "ready" not in opened:
                if batch_id() < warm:
                    return False
                start = opened.setdefault("ready", now)
                opened.setdefault("cpu", common.tree_cpu())
                if ctx.trace:
                    loop.trace_from = start
            return now >= opened["ready"] + window

        loop.drive(done)
        ready = opened["ready"]
        end = time.perf_counter()
        cpu_ms = common.cpu_ms_between(opened["cpu"], common.tree_cpu())
        alive = q.isActive and q.exception() is None
        progress = list(q.recentProgress)
    finally:
        q.stop()
        bridge.stop()
    ctx.note("query stopped; replaying the polls sent")

    measured = [p for p in loop.polls if ready <= p["t_send"] < ready + window]
    failed = sum(1 for p in measured if _failed(p))
    if not alive:
        failed = max(failed, 1)

    # correctness, outside the timed region
    expected, replay_s = _expected(spark, loop.polls)
    bad = [
        p["sid"] for p in loop.polls
        if p["status"] == 200 and expected.get(p["sid"]) != p["body"]
    ]
    ctx.note(f"live_sync: {len(loop.polls)} polls, "
             f"{sum(1 for p in loop.polls if p['status'] == 200)} answered inline, "
             f"{len(bad)} envelope mismatches, query alive={alive}, "
             f"replay {replay_s:.2f}s")

    def rtt_ms(recs):
        return [(p["t_recv"] - p["t_send"]) * 1000.0 for p in recs if not _failed(p)]

    if ctx.trace:
        plain = [p for p in measured if not loop.traced_at(p["t_recv"])]
        traced = [p for p in measured if loop.traced_at(p["t_recv"])]
    else:
        plain, traced = measured, []
    ok = rtt_ms(plain)
    metrics = {
        # everything the run did while timing (engine, bridge, clients)
        # over the syncs answered meanwhile
        "cpu_ms_per_op": cpu_ms / sum(
            1 for p in loop.polls if p["status"] == 200 and ready <= p["t_recv"] <= end
        ),
    }
    # The round trip the client sees, from the untraced polls. Its mean:
    # a round trip is one micro-batch plus the wait for the next batch
    # to start, so round trips spread about evenly over one to two batch
    # times, and the mean of a run's ~30 of them varies from run to run
    # less than their median does.
    sync = {
        "sync.rtt_ms_mean": statistics.fmean(ok),
        "sync.rtt_ms_p50": common.quantile(ok, 0.5),
        "sync.rtt_ms_p90": common.quantile(ok, 0.9),
        "sync.per_s": _syncs_per_s(measured),
    }
    ctx.note("live_sync: " + ", ".join(f"{k} {v:.2f}" for k, v in sync.items())
             + f", cpu_ms_per_op {metrics['cpu_ms_per_op']:.0f}")
    batches = [
        p for p in common.data_batches(progress)
        if ready <= ctx.clock.mono(common.progress_start(p)) < end
    ]
    batch_ms = [p["durationMs"]["triggerExecution"] for p in batches]
    ctx.note(f"live_sync: {len(ok)} rtt samples and {len(batches)} micro-batches "
             f"(median {statistics.median(batch_ms) if batch_ms else 0:.0f} ms) "
             "in the measured window")

    layer = {}
    if ctx.trace:
        layer.update(sync)
        layer.update(common.stream_metrics(batches))
        common.trace_batches(ctx.tracer, batches, "live_sync")
        for p in traced:
            root = ctx.tracer.add(
                "poll", ctx.clock.wall(p["t_send"]), ctx.clock.wall(p["t_recv"]),
                trace=p["sid"], game=p["game"], user=p["user"], status=p["status"],
            )
            if "t_deliver" in p:
                ctx.tracer.add(
                    "bridge.dispatch", ctx.clock.wall(p["t_deliver"]),
                    ctx.clock.wall(p["t_recv"]), parent=root, trace=p["sid"],
                    engine_sync_id=p["engine_sid"],
                )
        dispatched = [p for p in traced if "t_deliver" in p]
        traced_rtt = rtt_ms(traced)
        layer.update(
            {
                "bridge.dispatch_ms_p50": common.quantile(
                    [(p["t_recv"] - p["t_deliver"]) * 1000.0 for p in dispatched], 0.5
                ),
                "bridge.inline_answer_ratio": sum(1 for p in traced if p["status"] == 200)
                / max(1, len(traced)),
                "stream.poll_to_deliver_ms_p50": common.quantile(
                    [(p["t_deliver"] - p["t_send"]) * 1000.0 for p in dispatched], 0.5
                ),
                # the checking replay of every poll sent, after timing
                "operators.protocol_replay.game_response_s": replay_s,
                # query start to the first inline answer: the cold micro-batches
                "session.first_batch_ms": first_answer_s * 1000.0,
                "trace.overhead_pct": 100.0
                * (statistics.fmean(traced_rtt) / sync["sync.rtt_ms_mean"] - 1.0),
            }
        )
    return {
        "ready": ready,
        "metrics": metrics,
        "layer": layer,
        "attempted": len(measured),
        "failed": failed,
        "correct": alive and not bad,
    }
