"""Independent checks of every answer the benchmark's JVM produced.

Each answer is recomputed with DuckDB over the same generated parquet, by
plain arithmetic on the integer coordinates (strict inequalities for
containment, since a point on a box edge is not contained; squared
distances; kNN order by (squared distance, id)). DBSCAN answers are checked
by their defining properties instead of against one labelling. Every
answer is also fed to its check in three broken forms (one row dropped, one
value changed, empty); a check that accepts any of them is reported as
blind, so a check that cannot fail does not pass silently.
"""
import os

import duckdb


def _rows(path):
    out = []
    with open(path) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if line:
                out.append(tuple(int(v) if v not in ("true", "false") else int(v == "true")
                                 for v in line.split("\t")))
    return out


class Db:
    def __init__(self, work, inputs):
        self.con = duckdb.connect()
        tmp = os.path.join(work, "duckdb-tmp")
        os.makedirs(tmp, exist_ok=True)
        self.con.execute("SET threads = 4")
        self.con.execute("SET memory_limit = '2GB'")
        self.con.execute(f"SET temp_directory = '{tmp}'")
        for name, path in inputs.items():
            # coordinates widen to BIGINT so squared distances cannot overflow
            self.con.execute(f"CREATE VIEW {name} AS SELECT * REPLACE ("
                             + self._widen(path) + f") FROM read_parquet('{path}/*.parquet')")

    def _widen(self, path):
        cols = [r[0] for r in self.con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{path}/*.parquet')").fetchall()]
        return ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in cols)

    def q(self, sql):
        return self.con.execute(sql).fetchall()


def contains_sql(boxes, points):
    return (f"SELECT b.id, p.id FROM {boxes} b JOIN {points} p "
            "ON p.x > b.x0 AND p.x < b.x1 AND p.y > b.y0 AND p.y < b.y1")


def within_sql(left, right, d):
    """Pairs (a, b) with squared distance <= d^2, through a grid of cell d."""
    return f"""
        WITH l AS (SELECT id, x, y, x // {d} AS cx, y // {d} AS cy FROM {left}),
             r AS (SELECT id, x, y, x // {d} + dx AS cx, y // {d} + dy AS cy FROM {right},
                   (SELECT unnest([-1, 0, 1]) AS dx), (SELECT unnest([-1, 0, 1]) AS dy))
        SELECT l.id, r.id FROM l JOIN r ON l.cx = r.cx AND l.cy = r.cy
        WHERE (l.x - r.x) * (l.x - r.x) + (l.y - r.y) * (l.y - r.y) <= {d * d}"""


def knn_sql(queries, points, k, radius):
    """The k nearest points of each query by (squared distance, id). A query
    with at least k points within `radius` has all of its k nearest there;
    the others are ranked against every point."""
    rank = ("SELECT qid, pid FROM (SELECT qid, pid, row_number() OVER "
            "(PARTITION BY qid ORDER BY d2, pid) AS rn FROM {src}) WHERE rn <= " + str(k))
    near = f"""
        WITH q AS (SELECT id, x, y, x // {radius} AS cx, y // {radius} AS cy FROM {queries}),
             p AS (SELECT id, x, y, x // {radius} + dx AS cx, y // {radius} + dy AS cy FROM {points},
                   (SELECT unnest([-1, 0, 1]) AS dx), (SELECT unnest([-1, 0, 1]) AS dy))
        SELECT q.id AS qid, p.id AS pid,
               (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y) AS d2
        FROM q JOIN p ON q.cx = p.cx AND q.cy = p.cy"""
    near = f"(SELECT * FROM ({near}) WHERE d2 <= {radius * radius})"
    full = f"""(SELECT q.id AS qid, p.id AS pid,
               (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y) AS d2
        FROM {queries} q, {points} p
        WHERE q.id NOT IN (SELECT qid FROM {near} GROUP BY qid HAVING count(*) >= {k}))"""
    return (rank.format(src=near) + f" AND qid IN (SELECT qid FROM {near} GROUP BY qid "
            f"HAVING count(*) >= {k}) UNION ALL " + rank.format(src=full))


def window_sql(points, x0, y0, x1, y1):
    return f"SELECT id FROM {points} WHERE x > {x0} AND x < {x1} AND y > {y0} AND y < {y1}"


def asof_sql(left, lookback):
    return ("SELECT id_a, id_b FROM (SELECT c.id_a, v.id_b, row_number() OVER "
            "(PARTITION BY c.id_a ORDER BY v.tb DESC, v.id_b DESC) AS rn "
            f"FROM {left} c JOIN aov v ON v.ub = c.ua AND v.tb <= c.ta AND v.tb > c.ta - {lookback}"
            ") WHERE rn = 1")


def expected_sql(workload, kind, p):
    """DuckDB SQL for an answer that has exactly one right value."""
    def keep(t):
        """The table, less the rows a changing statement filters out."""
        return f"(SELECT * FROM {t} WHERE id % {p['mod']} <> {p['c']})" if p.get("c", -1) >= 0 else t

    if workload == "batch":
        if kind in ("spatial_join", "indexed_join"):
            return contains_sql("boxes", "points")
        if kind == "distance_join":
            return within_sql("points", "points", p["d"])
        if kind == "knn_join":
            return knn_sql(f"(SELECT * FROM points WHERE id % {p['every']} = 0)", "points", p["k"], 2000)
        if kind == "full_extent":
            return "SELECT id, x, y FROM points"
    if workload == "sql":
        if kind == "contains_join":
            return contains_sql("boxes_s", "pts_s")
        if kind == "within_distance_join":
            return within_sql(keep("pts_s"), "pts_s", p["d"])
        if kind == "range_join":
            return f"SELECT l.id, r.id FROM {keep('ivl')} l JOIN ivr r ON l.s <= r.e AND r.s <= l.e"
        if kind == "asof_join":
            left = (f"(SELECT * FROM aoc WHERE id_a % {p['mod']} <> {p['c']})"
                    if p["c"] >= 0 else "aoc")
            return asof_sql(left, p["lookback"])
        if kind == "cell_window":
            return window_sql("pts_s", p["x0"], p["y0"], p["x1"], p["y1"])
        if kind == "equi_join":
            return "SELECT c.ua, count(*) FROM aoc c JOIN aov v ON c.ua = v.ub GROUP BY c.ua"
        if kind == "filter":
            return window_sql("pts_s", p["x0"], p["y0"], p["x1"], p["y1"])
        if kind == "knn":
            return knn_sql(f"(SELECT -1 AS id, {p['qx']} AS x, {p['qy']} AS y)", "pts_s", p["k"], 2000)
        if kind == "full_extent":
            return "SELECT id, x, y FROM pts_s"
    raise ValueError(f"no check for {workload}/{kind}")


def exact_check(expected):
    want = sorted(expected)
    return lambda got: None if sorted(got) == want else (
        f"{len(got)} rows, {len(want)} expected, "
        f"{len(set(got) ^ set(want))} differ")


def knn_rows(rows):
    """Store kNN answers carry only the point id; the query id is -1."""
    return [(-1,) + r for r in rows]


def dbscan_check(db, eps, min_pts):
    """DBSCAN by its properties, on (id, cluster_id, is_core) rows:
    core flags equal independent neighbour counts of at least min_pts within
    eps (self included), core clusters equal the connected components of
    the core eps-graph, each border point carries the cluster of one of its
    core neighbours, and every other point is noise (-1)."""
    pairs = db.q(within_sql("points", "points", eps))
    ids = [r[0] for r in db.q("SELECT id FROM points")]
    count = dict.fromkeys(ids, 0)
    for a, _ in pairs:
        count[a] += 1
    core = {i for i, n in count.items() if n >= min_pts}
    parent = {i: i for i in core}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    core_nbrs = {}
    for a, b in pairs:
        if b in core and a != b:
            core_nbrs.setdefault(a, []).append(b)
            if a in core:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
    components = len({find(i) for i in core})

    def check(got):
        if sorted(r[0] for r in got) != sorted(ids):
            return f"{len(got)} rows for {len(ids)} points, or ids differ"
        label = {r[0]: r[1] for r in got}
        flags = {r[0]: r[2] for r in got}
        wrong = [i for i in ids if flags[i] != (i in core)]
        if wrong:
            return f"{len(wrong)} core flags differ from neighbour counts (first id {wrong[0]})"
        if any(label[i] == -1 for i in core):
            return "a core point is labelled noise"
        for a, nbrs in core_nbrs.items():
            if a in core and any(label[b] != label[a] for b in nbrs):
                return f"core point {a} and a core neighbour have different clusters"
        if len({label[i] for i in core}) != components:
            return f"{len({label[i] for i in core})} core clusters, {components} components"
        for i in ids:
            if i in core:
                continue
            allowed = {label[b] for b in core_nbrs.get(i, [])}
            if (label[i] not in allowed) if allowed else (label[i] != -1):
                return f"border/noise point {i} has cluster {label[i]}, allowed {sorted(allowed) or [-1]}"
        return None
    return check


def broken(rows, kind):
    """One row dropped, one value changed, and the empty answer."""
    rows = sorted(rows)
    changed = list(rows)
    first = changed[0]
    if kind == "dbscan":
        # move a core point to another cluster, or to noise if there is one cluster
        i = next(j for j, r in enumerate(changed) if r[2] == 1)
        others = sorted({r[1] for r in changed if r[1] not in (-1, changed[i][1])})
        changed[i] = (changed[i][0], others[0] if others else -1, 1)
    else:
        changed[0] = first[:-1] + (first[-1] + 1,)
    return {"dropped": rows[1:], "changed": changed, "empty": []}


def verify(res, work):
    """Returns (problems, broken answers rejected); no problems when every
    answer is right and every check rejected all three broken forms."""
    problems = [f"answer changed between rounds: {m}" for m in res["mismatches"]]
    if res["failed"]:
        problems.append(f"{res['failed']} operations failed")
    db = Db(work, res["inputs"])
    workload = res["workload"]
    rejected = 0
    for out in res["outputs"]:
        kind, label, p = out["kind"], out["label"], out["params"]
        got = _rows(out["file"])
        if kind == "dbscan":
            chk = dbscan_check(db, p["eps"], p["min_pts"])
        else:
            want = db.q(expected_sql(workload, kind, p))
            if kind == "knn":
                got = knn_rows(got)
            chk = exact_check(want)
        err = chk(got)
        if err:
            problems.append(f"{label}: {err}")
            continue
        if not got:
            continue
        for how, bad in broken(got, kind).items():
            if chk(bad) is None:
                problems.append(f"{label}: check is blind to a {how} answer")
            else:
                rejected += 1
    return problems, rejected
