"""jx_serve: the interactive query role.

The program is a ``python -m activedata_etl_spark.service`` subprocess
over the sf0.1 tables. One client process holds a closed loop of two
HTTP/1.1 keep-alive connections, each replaying a fixed sequence drawn
from the seed:

* the *analyst* sends jx answers of at most 50 rows (groupby, edges,
  window, where, sort) in list, table or cube format; each template's
  literals are redrawn per request, so requests share plan shapes but
  rarely repeat exactly;
* the *extractor* pages 10k-row results of ``lineitem`` in list or table
  format, by a single limit page or a walk of cursor pages.

A seeded warm-up sequence runs first, untimed. Every response is checked
after the timed phase against a DuckDB twin of its query: a complete
answer must be set-equal, a limited one must have the right count and
be contained in the full result, and a page must equal its twin row for
row. A failed or non-200 request counts as failed.

``--trace 1`` runs the same HTTP replay (for ``service.overhead_ms``:
client latency minus the response's ``meta.timing.total``), stops the
service, then replays the same sequences in-process through
``validate`` → ``query.run`` → ``format.to_*`` → ``json.dumps``, the
analyst's sequence first and the extractor's after it, with a span
around each call.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import signal
import subprocess
import sys
import threading
import time
from statistics import median

from perfbench.common import (PssSampler, SparkCounters, Tracer,
                              ops_sequence_length, process_tree,
                              session_with_timing, write_artifact)

#: Nominal rates that size the timed sequences from ``--seconds``: near
#: the measured rates on 4 cores, so the analyst's and the extractor's
#: sequences take about as long and overlap for the whole timed phase.
ANSWERS_PER_S = 2.5
PAGES_PER_S = 2.0
WARMUP_S = 8
PAGE = 10_000
ROW_CAP = 10_000  # the service's limit for a query without one
KEY_SPAN = 120_000  # pages start below this l_orderkey (max 149,999)
KEY_BINS = 4


# ------------------------------------------------------------ templates
# Each analyst template draws its literals from ``rng`` and returns
# (jx query, DuckDB twin, allowed formats, edge names for cube).

def _orders_by_priority(rng):
    x = rng.randrange(1000, 450000, 500)
    return ({"from": "orders", "where": {"gte": ["o_totalprice", x]},
             "groupby": "o_orderpriority",
             "select": [{"name": "n", "aggregate": "count"},
                        {"name": "hi", "value": "o_totalprice",
                         "aggregate": "max"}]},
            f"SELECT o_orderpriority, COUNT(*) AS n, MAX(o_totalprice) AS hi "
            f"FROM orders WHERE o_totalprice >= {x} GROUP BY 1",
            ("list", "table"), None)


def _lineitem_flags(rng):
    lo = rng.randint(1, 40)
    hi = lo + rng.randint(1, 10)
    return ({"from": "lineitem",
             "where": {"and": [{"gte": ["l_quantity", lo]},
                               {"lt": ["l_quantity", hi]}]},
             "groupby": ["l_returnflag", "l_linestatus"],
             "select": [{"name": "n", "aggregate": "count"},
                        {"name": "mx", "value": "l_extendedprice",
                         "aggregate": "max"},
                        {"name": "mn", "value": "l_discount",
                         "aggregate": "min"}]},
            f"SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            f"MAX(l_extendedprice) AS mx, MIN(l_discount) AS mn "
            f"FROM lineitem WHERE l_quantity >= {lo} AND l_quantity < {hi} "
            f"GROUP BY 1, 2",
            ("list", "table"), None)


def _customer_segments(rng):
    x = rng.randrange(-999, 9000, 7)
    return ({"from": "customer", "where": {"gte": ["c_acctbal", x]},
             "edges": ["c_mktsegment"],
             "select": [{"name": "n", "aggregate": "count"},
                        {"name": "mx", "value": "c_acctbal",
                         "aggregate": "max"}]},
            f"SELECT c_mktsegment, COUNT(*) AS n, MAX(c_acctbal) AS mx "
            f"FROM customer WHERE c_acctbal >= {x} GROUP BY 1",
            ("list", "table", "cube"), ["c_mktsegment"])


def _part_sizes(rng):
    b = f"Brand#{rng.randint(1, 25)}"
    return ({"from": "part", "where": {"eq": {"p_brand": b}},
             "edges": ["p_size"],
             "select": [{"name": "n", "aggregate": "count"}]},
            f"SELECT p_size, COUNT(*) AS n FROM part WHERE p_brand = '{b}' "
            f"GROUP BY 1",
            ("list", "table", "cube"), ["p_size"])


def _customer_orders_window(rng):
    k = rng.randrange(0, 15000)
    return ({"from": "orders", "where": {"eq": {"o_custkey": k}},
             "window": [{"name": "rk", "aggregate": "rank",
                         "edges": ["o_orderpriority"],
                         "sort": [{"value": "o_totalprice", "sort": -1},
                                  {"value": "o_orderkey", "sort": -1}]}],
             "select": ["o_orderkey", "o_orderpriority", "rk"]},
            f"SELECT o_orderkey, o_orderpriority, CAST(RANK() OVER ("
            f"PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, "
            f"o_orderkey DESC) AS INTEGER) AS rk FROM orders "
            f"WHERE o_custkey = {k}",
            ("list", "table"), None)


def _supplier_top_lines(rng):
    s = rng.randrange(0, 1000)
    n = rng.randint(10, 50)
    return ({"from": "lineitem", "where": {"eq": {"l_suppkey": s}},
             "select": ["l_orderkey", "l_linenumber", "l_extendedprice"],
             "sort": [{"value": "l_extendedprice", "sort": -1},
                      "l_orderkey", "l_linenumber"],
             "limit": n},
            f"SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
            f"WHERE l_suppkey = {s}",
            ("list", "table"), None)


def _events_user_types(rng):
    u = rng.randrange(0, 1480)
    return ({"from": "events",
             "where": {"and": [{"gte": ["user_id", u]},
                               {"lt": ["user_id", u + 20]}]},
             "groupby": "event_type",
             "select": [{"name": "n", "aggregate": "count"},
                        {"name": "mx", "value": "value",
                         "aggregate": "max"}]},
            f"SELECT event_type, COUNT(*) AS n, MAX(value) AS mx FROM events "
            f"WHERE user_id >= {u} AND user_id < {u + 20} GROUP BY 1",
            ("list", "table"), None)


TEMPLATES = (_orders_by_priority, _lineitem_flags, _customer_segments,
             _part_sizes, _customer_orders_window, _supplier_top_lines,
             _events_user_types)

#: The page's columns, which are also its sort keys: (l_orderkey,
#: l_linenumber) repeats in the sf0.1 tables, and only all four together
#: order the rows totally, so that every page is fully determined.
PAGE_COLS = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"]


def analyst_sequence(rng, n: int) -> list[dict]:
    """Each block of len(TEMPLATES) requests holds every template once, in
    a seeded order; a template's k-th request takes its k-th format in
    turn. The seed moves the order and the literals, never the mix."""
    out, uses = [], {t: 0 for t in TEMPLATES}
    while len(out) < n:
        for t in rng.sample(TEMPLATES, len(TEMPLATES))[:n - len(out)]:
            q, sql, formats, edges = t(rng)
            fmt = formats[uses[t] % len(formats)]
            uses[t] += 1
            out.append({"cls": "answer", "template": t.__name__.lstrip("_"),
                        "query": {**q, "format": fmt}, "sql": sql,
                        "edges": edges})
    return out


def extractor_sequence(rng, n: int) -> list[dict]:
    """Pages in a fixed pattern: a single limit page, then a walk of 3
    cursor pages whose 2nd and 3rd continue from the previous response's
    ``meta.cursor``; list and table alternate per pair of units. The seed
    draws the starting keys. A page's cost grows with the rows at or above
    its key, so each kind of unit takes its keys from KEY_BINS equal bins,
    every bin once per block, in a seeded order: the seed moves the keys,
    not the amount of work."""
    out, unit = [], 0
    bins: dict[int, list[int]] = {0: [], 1: []}
    width = KEY_SPAN // KEY_BINS
    while len(out) < n:
        kind = bins[unit % 2]
        if not kind:
            kind.extend(rng.sample(range(KEY_BINS), KEY_BINS))
        k = kind.pop() * width + rng.randrange(width)
        base = {"from": "lineitem", "select": PAGE_COLS,
                "where": {"gte": ["l_orderkey", k]},
                "sort": PAGE_COLS, "limit": PAGE,
                "format": ("list", "table")[unit // 2 % 2]}
        if unit % 2 == 0:
            out.append({"cls": "page", "template": "limit_page",
                        "query": base, "low": k})
        else:
            for step in range(min(3, n - len(out))):
                out.append({"cls": "page", "template": "cursor_page",
                            "query": base, "low": k, "step": step})
        unit += 1
    return out


# ------------------------------------------------------------ responses

def rows_of(data, fmt: str, edges, select_names) -> list[dict]:
    if fmt == "list":
        return data
    if fmt == "table":
        return [dict(zip(data["header"], r)) for r in data["data"]]
    (edge,) = edges
    parts = data["edges"][0]["domain"]["partitions"]
    return [{edge: p, **{s: data["data"][s][i] for s in select_names}}
            for i, p in enumerate(parts)]


def _canon(row: dict) -> tuple:
    return tuple((k, row[k]) for k in sorted(row))


class Client(threading.Thread):
    """One keep-alive connection replaying one sequence, closed loop."""

    def __init__(self, port: int, seq: list[dict]):
        super().__init__(daemon=True)
        self.port, self.seq = port, seq
        self.records: list[dict] = []

    def run(self) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        cursor = None
        for item in self.seq:
            q = dict(item["query"])
            if item["template"] == "cursor_page":
                if item["step"] > 0 and cursor is None:
                    self.records.append({**item, "status": -1, "ms": 0.0})
                    continue
                q["cursor"] = cursor if item["step"] > 0 else True
            body = json.dumps(q).encode()
            a = time.perf_counter()
            try:
                conn.request("POST", "/query", body,
                             {"Content-Type": "application/json"})
                resp = conn.getresponse()
                raw = resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                  timeout=60)
                raw, status = b"", -1
            b = time.perf_counter()
            rec = {**item, "status": status, "start": a,
                   "ms": (b - a) * 1000.0, "sent": q}
            if status == 200:
                payload = json.loads(raw)
                rec["data"] = payload["data"]
                rec["server_ms"] = payload["meta"]["timing"]["total"] * 1000
                cursor = payload["meta"].get("cursor")
            else:
                cursor = None
            self.records.append(rec)
        conn.close()


def _replay(port: int, analyst: list[dict], extractor: list[dict]):
    clients = [Client(port, analyst), Client(port, extractor)]
    t0 = time.perf_counter()
    for c in clients:
        c.start()
    for c in clients:
        c.join(timeout=150)
        if c.is_alive():
            raise RuntimeError("client did not finish")
    return time.perf_counter() - t0, clients[0].records + clients[1].records


def _sequences(seed: int, seconds: int):
    rng = random.Random(seed)
    warm = (analyst_sequence(rng, round(WARMUP_S * ANSWERS_PER_S)),
            extractor_sequence(rng, round(WARMUP_S * PAGES_PER_S)))
    timed = (analyst_sequence(rng, ops_sequence_length(
                 seconds, ANSWERS_PER_S, 20)),
             extractor_sequence(rng, ops_sequence_length(
                 seconds, PAGES_PER_S, 6)))
    return warm, timed


# ------------------------------------------------------------ service

def _start_service(ctx):
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, "-m", "activedata_etl_spark.service",
         "--data", ctx.sf_dir, "--port", "0"],
        cwd=ctx.root, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    line = proc.stdout.readline()
    if not line.startswith("serving on"):
        raise RuntimeError(f"service did not start: {line!r}")
    port = int(line.rsplit(":", 1)[1].split("/")[0])
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    conn.request("GET", "/")
    resp = conn.getresponse()
    resp.read()
    if resp.status != 200:
        raise RuntimeError("service health check failed")
    conn.close()
    return proc, port, time.perf_counter() - t0


def _stop_service(proc) -> None:
    tree = process_tree(proc.pid)
    proc.send_signal(signal.SIGINT)
    try:
        proc.wait(timeout=15)
    except subprocess.TimeoutExpired:
        pass
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


# ------------------------------------------------------------ checks

def _check(res, records, sf_dir) -> None:
    from activedata_etl_spark.parity import duck_connect

    con = duck_connect(sf_dir)
    for r in records:
        res.attempted += 1
        if r["status"] != 200:
            res.failed += 1
            res.fail(f"{r['template']}: HTTP {r['status']}")
            continue
        q = r["sent"]
        if r["cls"] == "answer":
            sel = [s["name"] for s in q["select"] if isinstance(s, dict)]
            got = [_canon(x) for x in rows_of(r["data"], q["format"],
                                              r["edges"], sel)]
            cur = con.execute(r["sql"])
            cols = [d[0] for d in cur.description]
            want = [_canon(dict(zip(cols, t))) for t in cur.fetchall()]
            if "limit" in q:
                ok = (len(got) == min(q["limit"], len(want))
                      and set(got) <= set(want))
            else:
                ok = sorted(got, key=repr) == sorted(want, key=repr)
        else:
            got = [_canon(x) for x in rows_of(r["data"], q["format"], None,
                                              None)]
            cur = con.execute(
                f"SELECT {', '.join(PAGE_COLS)} FROM lineitem "
                f"WHERE l_orderkey >= {r['low']} "
                f"ORDER BY {', '.join(PAGE_COLS)} "
                f"LIMIT {PAGE} OFFSET {r.get('step', 0) * PAGE}")
            cols = [d[0] for d in cur.description]
            ok = got == [_canon(dict(zip(cols, t))) for t in cur.fetchall()]
        if not ok:
            res.failed += 1
            res.fail(f"{r['template']}: result differs from DuckDB "
                     f"({json.dumps(q)[:200]})")
    con.close()


# ------------------------------------------------------------ run

def run(ctx, res) -> None:
    warm, timed = _sequences(ctx.seed, ctx.seconds)
    proc, port, setup_s = _start_service(ctx)
    sampler = PssSampler(proc.pid).start()
    try:
        warm_s, _ = _replay(port, *warm)
        wall, records = _replay(port, *timed)
        peak = sampler.stop()
    finally:
        _stop_service(proc)
    t0 = time.perf_counter()
    _check(res, records, ctx.sf_dir)
    print(f"perfbench: set-up {setup_s:.1f}s, warm-up {warm_s:.1f}s, "
          f"timed {wall:.1f}s, checks {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)

    ok = [r for r in records if r["status"] == 200]
    answers = [r["ms"] for r in ok if r["cls"] == "answer"]
    pages = [r for r in ok if r["cls"] == "page"]
    # the extractor's own rate: its first request's start to its last
    # response, so a change that trades page speed against the analyst's
    # shows here and not only in ops_per_s
    page_span = (max(r["start"] + r["ms"] / 1000.0 for r in pages)
                 - min(r["start"] for r in pages))
    res.put("setup_s", setup_s, "s")
    res.put("peak_pss_mb", peak, "MB")
    res.put("ops_per_s", len(ok) / wall, "1/s", len(ok))
    res.put("op_p50_ms", median(answers), "ms", len(answers))
    res.put("rows_per_s", len(pages) * PAGE / page_span, "rows/s",
            len(pages))
    write_artifact(ctx, f"t{int(ctx.trace)}-ops",
                   [{k: r.get(k) for k in ("cls", "template", "status",
                                           "start", "ms")} for r in records])
    if ctx.trace:
        _traced(ctx, res, warm, timed, ok)


def _traced(ctx, res, warm, timed, http_ok) -> None:
    """In-process replay with spans; see the module docstring."""
    times: dict = {}
    spark = session_with_timing(times)
    from activedata_etl_spark.io import register_views
    from activedata_etl_spark.plans import format as FMT
    from activedata_etl_spark.plans.cursor import (advance, cursor_predicate,
                                                   normalize_sorts)
    from activedata_etl_spark.plans.query import run as run_query
    from activedata_etl_spark.plans.validate import validate

    t0 = time.perf_counter()
    register_views(spark, ctx.sf_dir)
    times["register_views_s"] = time.perf_counter() - t0
    res.put("setup.session_s", times["session_s"], "s")
    res.put("setup.register_views_s", times["register_views_s"], "s")
    res.put("setup.index_build_s", 0.0, "s")

    tracer = Tracer(True)
    counters = SparkCounters(spark)

    def one(item, op, cursor):
        cls = item["cls"]
        q = {k: v for k, v in item["query"].items() if k != "format"}
        fmt = item["query"]["format"]
        if "limit" not in q:
            q["limit"] = ROW_CAP
        sorts = None
        if item["template"] == "cursor_page":
            sorts = normalize_sorts(q["sort"])
            if item["step"] > 0:
                q["where"] = {"and": [q["where"],
                                      cursor_predicate(sorts, cursor)]}
        with counters.group(op), tracer.span(f"{cls}.op", op):
            with tracer.span(f"{cls}.plans.validate.ms", op):
                problems = validate(q)
            if problems:
                raise RuntimeError(f"invalid query: {problems}")
            with tracer.span(f"{cls}.plans.query.run.ms", op):
                df = run_query(spark, q)
            with tracer.span(f"{cls}.plans.format.ms", op):
                if fmt == "list":
                    data = FMT.to_list(df)
                elif fmt == "table":
                    data = FMT.to_table(df)
                else:
                    data = FMT.to_cube(df, item["edges"],
                                       [s["name"] for s in q["select"]])
            with tracer.span(f"{cls}.service.encode.ms", op):
                json.dumps({"data": data}, default=str)
        rows = rows_of(data, fmt, item["edges"] if cls == "answer" else None,
                       [s["name"] for s in q["select"]
                        if isinstance(s, dict)])
        nxt = advance(sorts, rows[-1]) if sorts else None
        return len(rows), nxt

    def replay(seq, tag):
        out, cursor = [], None
        for i, item in enumerate(seq):
            op = f"{tag}{i}"
            gc0 = counters.gc_ms()
            n, cursor = one(item, op, cursor)
            out.append({"op": op, "cls": item["cls"], "rows": n,
                        "gc_ms": counters.gc_ms() - gc0})
        return out

    replay(warm[0], "wa")
    replay(warm[1], "we")
    tracer.spans.clear()
    t0 = time.perf_counter()
    ops = replay(timed[0], "a")
    t1 = time.perf_counter()
    ops += replay(timed[1], "e")
    t2 = time.perf_counter()
    rate = len(ops) / (t2 - t0)
    page_rows = sum(o["rows"] for o in ops if o["cls"] == "page")
    self_ms = tracer.self_ms_by(lambda s: s["name"])
    for cls in ("answer", "page"):
        mine = [o for o in ops if o["cls"] == cls]
        n = max(len(mine), 1)
        for layer in ("plans.validate.ms", "plans.query.run.ms",
                      "plans.format.ms", "service.encode.ms"):
            res.put(f"{cls}.{layer}", self_ms.get(f"{cls}.{layer}", 0.0) / n,
                    "ms", len(mine))
        c = [counters.counts(o["op"]) for o in mine]
        for k in ("jobs", "stages", "tasks"):
            res.put(f"{cls}.spark.{k}_per_op", sum(x[k] for x in c) / n,
                    "count", len(mine))
        res.put(f"{cls}.jvm.gc_ms_per_op", sum(o["gc_ms"] for o in mine) / n,
                "ms", len(mine))
        res.put(f"{cls}.rows_per_op", sum(o["rows"] for o in mine) / n,
                "count", len(mine))
        over = [r["ms"] - r["server_ms"] for r in http_ok if r["cls"] == cls]
        res.put(f"{cls}.service.overhead_ms", median(over), "ms", len(over))
    res.put("trace.ops_per_s", rate, "1/s", len(ops))
    res.put("trace.rows_per_s", page_rows / (t2 - t1), "rows/s",
            len(timed[1]))
    write_artifact(ctx, "spans", tracer.self_times())
    spark.stop()
