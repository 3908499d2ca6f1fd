"""Workload generation and answer checking — the benchmark's model side.

Everything here runs in the benchmark's own process, never inside the
program under test: the call lists are drawn from a seed over the generated
tables, and every answer the program returns is checked afterwards against
a model built from DuckDB reads of the same parquet.

Calls are plain JSON dicts so the worker process receives nothing but the
generated inputs:

  {"id": 7, "op": "contains", "s": 12, "g": 1, "d": 400}
  {"id": 8, "op": "select_edges", "g": 2, "v": 5, "fwd": true, "states": [0],
   "count": 20, "cursor": null | [position, id]}
  {"id": 9, "op": "select2", "queries": [{"program": [...], "count": 20,
   "cursor": null | [value, id]}]}
  {"id": 10, "op": "count2", "programs": [[...], ...]}
  {"id": 11, "op": "execute", "batch": 3, "ops": [[type, g, s, d | null, ts], ...]}

A program is RPN: ["t", g, vertex, forward] pushes a term, "i"/"u"/"d"
pop two and push their intersection/union/difference.
"""

from __future__ import annotations

import copy
import random
from collections import defaultdict

import duckdb

WORKLOADS = ("point_reads", "read_write_mix")

#: the reference's state-conflict priority (Normal < Negative < Archived <
#: Removed), an involution on state codes
def prio(state: int) -> int:
    return (4 - state) % 4


# ---------------------------------------------------------------------------
# the edge model
# ---------------------------------------------------------------------------


class Model:
    """Edges and metadata of one store, keyed like the service's lookups."""

    def __init__(self, edges, metadata):
        # (g, s) -> {d: (position, updated_at, count, state)}
        self.fwd: dict[tuple[int, int], dict[int, tuple]] = defaultdict(dict)
        for g, s, d, pos, ts, cnt, st in edges:
            self.fwd[(g, s)][d] = (pos, ts, cnt, st)
        # (g, s) -> (count, state, updated_at)
        self.md = {(g, s): (cnt, st, ts) for g, s, cnt, st, ts in metadata}
        self._bwd = None

    @property
    def bwd(self) -> dict[tuple[int, int], dict[int, tuple]]:
        if self._bwd is None:
            self._bwd = defaultdict(dict)
            for (g, s), row in self.fwd.items():
                for d, val in row.items():
                    self._bwd[(g, d)][s] = val
        return self._bwd

    @classmethod
    def from_duckdb(cls, con, edges_sql: str, metadata_sql: str) -> "Model":
        return cls(con.execute(edges_sql).fetchall(), con.execute(metadata_sql).fetchall())

    def edge_set(self):
        return {(g, s, d) + v for (g, s), row in self.fwd.items() for d, v in row.items()}

    # -- reads --------------------------------------------------------------

    def get(self, s, g, d):
        v = self.fwd.get((g, s), {}).get(d)
        return None if v is None else [g, s, d, *v]

    def contains(self, s, g, d):
        v = self.fwd.get((g, s), {}).get(d)
        return v is not None and v[3] in (0, 3)

    def get_metadata(self, s, g):
        v = self.md.get((g, s))
        return None if v is None else [g, s, *v]

    def term_rows(self, g, v, fwd, states):
        side = self.fwd if fwd else self.bwd
        return [(val[0], other) for other, val in side.get((g, v), {}).items() if val[3] in states]

    def term_ids(self, g, v, fwd, states=(0,)):
        return {i for _, i in self.term_rows(g, v, fwd, states)}

    def program_ids(self, program) -> set[int]:
        stack: list[set[int]] = []
        for op in program:
            if op[0] == "t":
                stack.append(self.term_ids(op[1], op[2], op[3]))
            else:
                right, left = stack.pop(), stack.pop()
                stack.append({"i": left & right, "u": left | right, "d": left - right}[op[0]])
        return stack[0]

    def program_count(self, program) -> int:
        """count2's closed-form estimate (operators/counts.py)."""
        stack: list[int] = []
        for op in program:
            if op[0] == "t":
                md = self.md.get((op[1], op[2]))
                stack.append(md[0] if md else 0)
            else:
                right, left = stack.pop(), stack.pop()
                stack.append(
                    {"i": int(min(left, right) * 0.1), "u": max(left, right), "d": left}[op[0]]
                )
        return stack[0]

    def edge_page(self, g, v, fwd, states, count, cursor):
        rows = sorted(self.term_rows(g, v, fwd, tuple(states)), reverse=True)
        if cursor is not None:
            rows = [r for r in rows if r < tuple(cursor)]
        page = rows[:count]
        nxt = list(page[-1]) if page and len(rows) > count else None
        return {"rows": [list(r) for r in page], "next": nxt}

    def id_page(self, program, count, cursor):
        ids = sorted(self.program_ids(program), reverse=True)
        if cursor is not None:
            ids = [i for i in ids if (i, i) < tuple(cursor)]
        page = ids[:count]
        nxt = [page[-1], page[-1]] if page and len(ids) > count else None
        return {"ids": page, "next": nxt}

    def answer(self, call):
        op = call["op"]
        if op == "contains":
            return self.contains(call["s"], call["g"], call["d"])
        if op == "get":
            return self.get(call["s"], call["g"], call["d"])
        if op == "get_metadata":
            return self.get_metadata(call["s"], call["g"])
        if op == "count2":
            return [self.program_count(p) for p in call["programs"]]
        if op == "select_edges":
            return self.edge_page(
                call["g"], call["v"], call["fwd"], call["states"], call["count"], call["cursor"]
            )
        if op == "select2":
            return [self.id_page(q["program"], q["count"], q["cursor"]) for q in call["queries"]]
        raise ValueError(f"no model answer for {op}")

    # -- writes (service.execute: apply_oplog + the metadata recount) -------

    def apply_batch(self, ops) -> "Model":
        """The store after one ``execute`` batch, as a new model.

        Mirrors operators/merge.apply_oplog with resolve_with_metadata: mass
        ops first update the vertex state (last writer wins on
        (updated_at, priority)) and expand over the vertex's not-Removed
        edges; single-edge ops take the highest-priority state among the op,
        the source vertex and the destination vertex; every written key is
        folded in (updated_at, priority, position) order with the
        resurrection position rule; touched vertices are recounted."""
        out = Model([], [])
        out.fwd = defaultdict(dict, {k: dict(v) for k, v in self.fwd.items()})
        md = dict(self.md)
        mass = [(g, s, t, ts) for t, g, s, d, ts in ops if d is None]
        single = [(g, s, d, t, ts) for t, g, s, d, ts in ops if d is not None]
        for g, s, st, ts in mass:
            cur = md.get((g, s))
            if cur is None or (ts, prio(st)) > (cur[2], prio(cur[1])):
                md[(g, s)] = (0, st, ts)
        writes: dict[tuple, list] = defaultdict(list)
        for g, s, st, ts in mass:
            for d, (pos, _, _, est) in self.fwd.get((g, s), {}).items():
                if est != 1:
                    writes[(g, s, d)].append((ts, prio(st), pos, st, 0))
        for g, s, d, st, ts in single:
            pos = ((ts * 1000) << 20) | (d % (1 << 20))
            eff = max(prio(st), prio(md[(g, s)][1]) if (g, s) in md else 0,
                      prio(md[(g, d)][1]) if (g, d) in md else 0)
            writes[(g, s, d)].append((ts, eff, pos, prio(eff), 0))
        for (g, s, d), rows in writes.items():
            cur = self.fwd.get((g, s), {}).get(d)
            if cur is not None:
                rows = rows + [(cur[1], prio(cur[3]), cur[0], cur[3], cur[2])]
            rows.sort()
            pos, prev = None, None
            for ts, _, p, st, _ in rows:
                if prev is None or (prev in (1, 3) and st == 0):
                    pos = p
                prev = st
            ts, _, _, st, cnt = rows[-1]
            out.fwd[(g, s)][d] = (pos, ts, cnt, st)
        for g, s, _, _, _ in [(g, s, 0, 0, 0) for g, s, _, _ in mass] + single:
            edges = out.fwd.get((g, s))
            if not edges:
                md.pop((g, s), None)
                continue
            vst, vts = (md[(g, s)][1], md[(g, s)][2]) if (g, s) in md else (0, 0)
            md[(g, s)] = (
                sum(1 for e in edges.values() if e[3] == vst),
                vst,
                max(max(e[1] for e in edges.values()), vts),
            )
        out.md = md
        return out

    def restricted(self, vertices) -> "Model":
        out = Model([], [])
        out.fwd = defaultdict(dict, {v: dict(self.fwd[v]) for v in vertices if v in self.fwd})
        out.md = {v: self.md[v] for v in vertices if v in self.md}
        return out


# ---------------------------------------------------------------------------
# call generation
# ---------------------------------------------------------------------------


#: YCSB's zipfian constant (ZipfianGenerator.ZIPFIAN_CONSTANT; Cooper et al.,
#: "Benchmarking Cloud Serving Systems with YCSB", SoCC 2010)
ZIPF_S = 0.99


class Zipf:
    """Zipf(s) draws over a seeded permutation of ``items``."""

    def __init__(self, rng: random.Random, items, s: float = ZIPF_S):
        self.items = list(items)
        rng.shuffle(self.items)
        self.rng = rng
        weights = [1.0 / (r + 1) ** s for r in range(len(self.items))]
        total = 0.0
        self.cum = []
        for w in weights:
            total += w
            self.cum.append(total)

    def draw(self):
        return self.rng.choices(self.items, cum_weights=self.cum, k=1)[0]


def _pick(rng: random.Random, weights: dict[str, float]) -> str:
    return rng.choices(list(weights), weights=list(weights.values()), k=1)[0]


def _stratified(rng: random.Random, counts: dict[str, int]):
    """Endless kinds in exact proportions: each cycle holds ``counts`` of
    every kind in a seeded order, so a short window still sees the mix."""
    cycle = [k for k, n in counts.items() for _ in range(n)]
    while True:
        rng.shuffle(cycle)
        yield from cycle


#: share of contains/get calls on an existing edge, and of get_metadata
#: calls on an existing vertex; the rest miss.  Chosen, not measured: no
#: public trace of FlockDB traffic gives these splits
HIT_SHARE = 0.8
VERTEX_HIT_SHARE = 0.9


def point_calls(model: Model, rng: random.Random, n: int) -> list[dict]:
    """contains 30%, get 10%, get_metadata 15%, count2 10%, first
    select_edges page 25%, cursor follow-up page 10%, over Zipf-skewed
    vertices of graphs 1 and 2 in both directions."""
    zipf = {
        (g, fwd): Zipf(rng, sorted(v for (gg, v) in (model.fwd if fwd else model.bwd) if gg == g))
        for g in (1, 2)
        for fwd in (True, False)
    }
    # cursor follow-ups need a vertex with more than one page of rows
    walkable = {
        g: Zipf(rng, sorted(v for (gg, v) in model.fwd if gg == g
                            and len(model.term_rows(g, v, True, (0, 2))) > 5))
        for g in (1, 2)
    }
    mix = _stratified(rng, {"contains": 6, "get": 2, "get_metadata": 3, "count2": 2,
                            "select_edges": 5, "select_edges_cursor": 2})
    seen: dict[str, int] = defaultdict(int)
    calls = []
    for _ in range(n):
        kind = next(mix)
        # graphs and directions alternate per kind, so every window is balanced
        i = seen[kind]
        seen[kind] += 1
        g, fwd = 1 + i % 2, (i // 2) % 2 == 0
        if kind in ("contains", "get"):
            s = zipf[(g, True)].draw()
            dests = sorted(model.fwd[(g, s)])
            d = rng.choice(dests) if rng.random() < HIT_SHARE else -1 - rng.randrange(1000)
            calls.append({"op": kind, "s": s, "g": g, "d": d})
        elif kind == "get_metadata":
            s = zipf[(g, True)].draw() if rng.random() < VERTEX_HIT_SHARE else -1 - rng.randrange(1000)
            calls.append({"op": kind, "s": s, "g": g})
        elif kind == "count2":
            calls.append({"op": kind, "programs": [[["t", g, zipf[(g, fwd)].draw(), fwd]]]})
        elif kind == "select_edges":
            calls.append({"op": kind, "g": g, "v": zipf[(g, fwd)].draw(), "fwd": fwd,
                          "states": [0], "count": 20, "cursor": None})
        else:
            v = walkable[g].draw()
            first = model.edge_page(g, v, True, (0, 2), 5, None)
            calls.append({"op": "select_edges", "g": g, "v": v, "fwd": True,
                          "states": [0, 2], "count": 5, "cursor": first["next"]})
    return calls


def _compound_program(rng: random.Random, suppliers: Zipf, customers: Zipf):
    kind = _pick(rng, {"i": 30, "u": 20, "d": 20, "nested": 20, "g1": 10})
    if kind == "g1":
        a, b = customers.draw(), customers.draw()
        return [["t", 1, a, True], ["t", 1, b, True], [rng.choice("ud")]]
    a, b, c = suppliers.draw(), suppliers.draw(), suppliers.draw()
    ta, tb, tc = ["t", 3, a, True], ["t", 3, b, True], ["t", 3, c, True]
    if kind == "nested":
        return [ta, tb, ["u"], tc, [rng.choice("id")]]
    return [ta, tb, [kind]]


def compound_calls(model: Model, rng: random.Random, n: int) -> list[dict]:
    """select2 over graph-3 supplier pairs and graph-1 customers: single
    programs and batches of 16 from the start cursor, 20% single programs
    from a mid-walk cursor; after every third select2 call, one count2 call
    over the programs the three sent."""
    suppliers = Zipf(rng, sorted(v for (g, v) in model.fwd if g == 3))
    customers = Zipf(rng, sorted(v for (g, v) in model.fwd if g == 1))
    calls: list[dict] = []
    recent: list = []
    kinds = _stratified(rng, {"cursor": 1, "one": 2, "batch": 2})
    while len(calls) < n:
        kind = next(kinds)
        if kind == "cursor":
            while True:
                prog = _compound_program(rng, suppliers, customers)
                first = model.id_page(prog, 20, None)
                if first["next"] is not None:
                    break
            queries = [{"program": prog, "count": 20, "cursor": first["next"]}]
        else:
            queries = [
                {"program": _compound_program(rng, suppliers, customers), "count": 20,
                 "cursor": None}
                for _ in range(16 if kind == "batch" else 1)
            ]
        calls.append({"op": "select2", "queries": queries})
        recent.extend(q["program"] for q in queries)
        if len(calls) % 4 == 3:
            calls.append({"op": "count2", "programs": recent})
            recent = []
    return calls[:n]


#: execute timestamps straddle the newest fixture edges (2001-08-01) so some
#: writes lose to existing rows; 41 values over every batch force duplicates
TS_BASE = 996_623_980
TS_SPREAD = 41
#: vertices the writer and the readers share (chosen, not measured)
HOT_VERTICES = 6
OPS_PER_BATCH = 32


def write_batches(model: Model, rng: random.Random, n_batches: int):
    """``n_batches`` execute batches of 32 single-edge add/remove/archive/
    negate ops on a few hot graph-1 customers, with out-of-order and
    duplicated timestamps; every 4th batch from the 3rd on (3, 7, 11, 15)
    adds a mass archive or unarchive.
    Returns (hot vertices, batches)."""
    cands = sorted(v for (g, v) in model.fwd if g == 1 and len(model.fwd[(g, v)]) >= 8)
    hot = rng.sample(cands, HOT_VERTICES)
    known = {v: sorted(model.fwd[(1, v)]) for v in hot}
    batches = []
    for k in range(1, n_batches + 1):
        ops = []
        for _ in range(OPS_PER_BATCH):
            s = rng.choice(hot)
            if rng.random() < 0.7:
                d = rng.choice(known[s])
            else:
                d = rng.randrange(_max_order(model))
                known[s].append(d)
            ops.append([rng.randrange(4), 1, s, d, TS_BASE + rng.randrange(TS_SPREAD)])
        if k % 4 == 3:
            ops.append([rng.choice((0, 2)), 1, rng.choice(hot), None, TS_BASE + rng.randrange(TS_SPREAD)])
        batches.append(ops)
    return hot, batches


def _max_order(model: Model) -> int:
    return 1 + max(d for (g, _), row in model.fwd.items() if g == 1 for d in row)


def reader_calls(rng: random.Random, hot: list[int], batches, n: int) -> list[dict]:
    """contains / get / select_edges on the keys the writer touches."""
    keys = sorted({(op[2], op[3]) for ops in batches for op in ops if op[3] is not None})
    kinds = _stratified(rng, {"contains": 4, "get": 3, "select_edges": 3})
    calls = []
    for _ in range(n):
        kind = next(kinds)
        if kind == "select_edges":
            calls.append({"op": kind, "g": 1, "v": rng.choice(hot), "fwd": True,
                          "states": [0], "count": 20, "cursor": None})
        else:
            s, d = rng.choice(keys)
            calls.append({"op": kind, "s": s, "g": 1, "d": d})
    return calls


def warmup_calls(calls: list[dict], per_op: int = 3) -> list[dict]:
    """A few calls of every kind in the list, for the untimed warm-up."""
    seen: dict[str, int] = defaultdict(int)
    out = []
    for c in calls:
        key = c["op"] + ("_cursor" if c.get("cursor") or any(
            q.get("cursor") for q in c.get("queries", [])) else "")
        if seen[key] < per_op:
            seen[key] += 1
            out.append(copy.deepcopy(c))
    return out


# ---------------------------------------------------------------------------
# DuckDB access to the generated tables and to the program's layout
# ---------------------------------------------------------------------------


def raw_model(data_dir: str) -> Model:
    """The fixture derivation (sources/edges.py's DuckDB twin) over the raw
    generated tables — what the layout must hold."""
    from flockdb_spark.sources.edges import with_fixture_ctes

    con = duckdb.connect()
    for t in ("orders", "events", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    cols = 'graph_id, source_id, destination_id, position, updated_at, "count", state'
    return Model.from_duckdb(
        con,
        with_fixture_ctes(f"SELECT {cols} FROM edges"),
        with_fixture_ctes('SELECT graph_id, source_id, "count", state, updated_at FROM metadata'),
    )


def layout_model(layout_dir: str) -> Model:
    """The program's persisted layout, read back by DuckDB."""
    con = duckdb.connect()
    return Model.from_duckdb(
        con,
        "SELECT CAST(graph_id AS INTEGER), source_id, destination_id, position, "
        f"updated_at, \"count\", state FROM read_parquet('{layout_dir}/edges/*/*.parquet', "
        "hive_partitioning=true)",
        "SELECT CAST(graph_id AS INTEGER), source_id, \"count\", state, updated_at "
        f"FROM read_parquet('{layout_dir}/metadata/*/*.parquet', hive_partitioning=true)",
    )
