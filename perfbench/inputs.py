"""Seeded workload inputs: search requests and SeaBASS submission files.

Everything here is pure Python and independent of the package under
test. Each search request carries both its `find_datasets` parameters
and an independent DuckDB restatement; each SeaBASS batch carries the
observations an independent parser expects from its files. The same
seed always gives the same inputs.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

# ------------------------------------------------------------ search

# The search frame derives a dataset-like table from the warm `orders`
# table, the way op267 derives one from `customer`: integer lon/lat from
# key arithmetic, the order date as the dataset time, the priority as
# the product name and the order status as the dataset status.
SEARCH_FRAME_SQL = """
SELECT o_orderkey AS id,
       o_custkey % 360 - 180 AS x,
       (o_orderkey * 7) % 180 - 90 AS y,
       o_orderdate AS t,
       o_orderpriority AS priority,
       o_orderstatus AS status,
       o_totalprice AS price
FROM orders
"""

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@dataclass(frozen=True)
class Clause:
    """One node of a request's query expression, rendered both as the
    reference's query syntax and as SQL."""

    op: str  # eq | range | prefix | not | and | or
    args: tuple

    def expr(self) -> str:
        a = self.args
        if self.op == "eq":
            return f"{a[0]}:{a[1]}"
        if self.op == "range":
            return f"{a[0]}:[{a[1]} TO {a[2]}]"
        if self.op == "prefix":
            return f"{a[0]}:{a[1]}*"
        if self.op == "not":
            return f"NOT {a[0].expr()}"
        return "(" + f" {self.op.upper()} ".join(c.expr() for c in a) + ")"

    def sql(self) -> str:
        a = self.args
        if self.op == "eq":
            return f"{a[0]} = '{a[1]}'"
        if self.op == "range":
            return f"({a[0]} >= {a[1]} AND {a[0]} <= {a[2]})"
        if self.op == "prefix":
            return f"{a[0]} LIKE '{a[1]}%'"
        if self.op == "not":
            # the reference's Mongo $not: a NULL field matches the negation
            return f"NOT coalesce({a[0].sql()}, false)"
        return "(" + f" {self.op.upper()} ".join(c.sql() for c in a) + ")"


@dataclass(frozen=True)
class SearchRequest:
    kind: str
    expr: Clause | None = None
    region: tuple[int, int, int, int] | None = None
    time: tuple[str, str] | None = None
    pname: tuple[str, ...] = ()
    status: str | None = None
    offset: int = 0
    count: int = 50
    geojson: bool = False
    pages: int = 1  # >1: a keyset cursor walk of this many pages

    def where_sql(self) -> str:
        conds = ["TRUE"]
        if self.expr is not None:
            conds.append(self.expr.sql())
        if self.region is not None:
            x0, y0, x1, y1 = self.region
            conds.append(f"x BETWEEN {x0} AND {x1} AND y BETWEEN {y0} AND {y1}")
        if self.time is not None:
            conds.append(f"t <= TIMESTAMP '{self.time[1]}' AND t >= TIMESTAMP '{self.time[0]}'")
        if self.pname:
            conds.append("priority IN (" + ", ".join(f"'{p}'" for p in self.pname) + ")")
        if self.status is not None:
            conds.append(f"status = '{self.status}'")
        return " AND ".join(conds)

    def page_sql(self, after: int | None = None) -> str:
        """DuckDB restatement of one page: total hits and page keys."""
        where = self.where_sql()
        page_where = where if after is None else f"{where} AND id > {after}"
        offset = 0 if (after is not None or self.pages > 1) else self.offset
        return (
            f"SELECT (SELECT count(*) FROM ds WHERE {where}) AS total, "
            f"list(id ORDER BY id) AS ids, list(x ORDER BY id) AS xs, "
            f"list(y ORDER BY id) AS ys FROM ("
            f"SELECT id, x, y FROM ds WHERE {page_where} "
            f"ORDER BY id LIMIT {self.count} OFFSET {offset})"
        )


def _time_window(rng: random.Random, days: int) -> tuple[str, str]:
    import datetime as dt

    start = dt.date(1995, 1, 1) + dt.timedelta(days=rng.randint(0, 2400 - days))
    end = start + dt.timedelta(days=days)
    return (f"{start} 00:00:00", f"{end} 00:00:00")


def _price_range(rng: random.Random, width: int) -> Clause:
    lo = rng.randint(1000, 500000 - width)
    return Clause("range", ("price", lo, lo + width))


def _status_eq(rng: random.Random) -> Clause:
    return Clause("eq", ("status", rng.choice("FOP")))


def _prio_prefix(rng: random.Random) -> Clause:
    return Clause("prefix", ("priority", str(rng.randint(1, 5))))


def _region(rng: random.Random, w: int, h: int) -> tuple[int, int, int, int]:
    x0, y0 = rng.randint(-180, 180 - w), rng.randint(-90, 90 - h)
    return (x0, y0, x0 + w, y0 + h)


# One maker per request kind. The kinds cover the request parameters
# the reference's GET /datasets parses (SURVEY.md section 3.1: expr,
# region, time, pname, status, offset, count, geojson) and the keyset
# cursor: expr / region / time / pname filters at broad and narrow
# selectivity, first pages, deep offset pages, cursor walks and GeoJSON
# pages. Which parameters exist is taken from the reference; how often
# each is used is not known (the repo records no serving traffic), so
# the mix below is an assumption, not a measurement: see README.md.
_KINDS = {
    "expr_broad": lambda r: SearchRequest("expr_broad", expr=_status_eq(r)),
    "expr_narrow": lambda r: SearchRequest("expr_narrow", expr=_price_range(r, 3000)),
    "expr_bool": lambda r: SearchRequest(
        "expr_bool",
        expr=Clause("and", (Clause("not", (_status_eq(r),)),
                            Clause("or", (_prio_prefix(r), _prio_prefix(r))))),
    ),
    "region_broad": lambda r: SearchRequest("region_broad", region=_region(r, 200, 100)),
    "region_narrow": lambda r: SearchRequest("region_narrow", region=_region(r, 12, 12)),
    "time_broad": lambda r: SearchRequest("time_broad", time=_time_window(r, 700)),
    "time_narrow": lambda r: SearchRequest("time_narrow", time=_time_window(r, 7)),
    "pname": lambda r: SearchRequest(
        "pname", pname=tuple(sorted(r.sample(_PRIORITIES, 2))), status=r.choice("FOP")
    ),
    "combined": lambda r: SearchRequest(
        "combined", expr=_status_eq(r), region=_region(r, 120, 60),
        time=_time_window(r, 900),
    ),
    # offsets assumed: deep enough (up to half the 150k-row frame) that
    # skipping rows, not returning them, dominates the page
    "deep_offset": lambda r: SearchRequest(
        "deep_offset", expr=_status_eq(r), offset=r.randint(5_000, 40_000)
    ),
    "cursor_walk": lambda r: SearchRequest(
        "cursor_walk", expr=_prio_prefix(r), pages=3, count=100
    ),
    "geojson": lambda r: SearchRequest(
        "geojson", region=_region(r, 90, 45), geojson=True, count=100
    ),
}
KINDS = tuple(_KINDS)
# Assumed, not measured: a small pool per kind, so that popular
# requests repeat within a run (a result cache would show), and the
# classic Zipf exponent for request popularity.
POOL_PER_KIND = 6
ZIPF_S = 1.0


@dataclass
class SearchStream:
    """An endless, seeded stream of requests. Kinds are served
    round-robin in a per-round shuffled order (equal shares, an
    assumption: it gives every seed the same kind mix); within a kind,
    requests come from a pool of POOL_PER_KIND with Zipf popularity, so
    popular ones repeat."""

    seed: int
    pools: dict[str, list[SearchRequest]] = field(init=False)

    def __post_init__(self):
        rng = random.Random(f"search-pool-{self.seed}")
        self.pools = {k: [_KINDS[k](rng) for _ in range(POOL_PER_KIND)] for k in KINDS}
        self._rng = random.Random(f"search-stream-{self.seed}")
        self._weights = [1.0 / (i + 1) ** ZIPF_S for i in range(POOL_PER_KIND)]
        self._round: list[str] = []
        self.rounds = 0  # rounds started

    def round_done(self) -> bool:
        """True when every kind of the current round has been served."""
        return not self._round

    def next(self) -> SearchRequest:
        if not self._round:
            self._round = list(KINDS)
            self._rng.shuffle(self._round)
            self.rounds += 1
        kind = self._round.pop()
        return self._rng.choices(self.pools[kind], self._weights)[0]


# ------------------------------------------------------------ ingest

# (field, decimals, low, high, valid low, valid high, severity) — values
# are drawn in [low, high]; outside [valid low, valid high] a record
# fails the validation rule of that severity.
FIELDS = {
    "depth": (1, 0.0, 500.0, 0.0, 6000.0, "ERROR"),
    "chl": (3, 0.01, 50.0, 0.0, 100.0, "ERROR"),
    "wt": (2, -2.0, 32.0, -2.5, 40.0, "ERROR"),
    "sal": (2, 30.0, 40.0, 0.0, 42.0, "WARNING"),
    "kd490": (4, 0.01, 1.0, 0.0, 5.0, "WARNING"),
    "lu412": (3, 0.1, 3.0, 0.0, 10.0, "WARNING"),
    "es412": (3, 0.1, 3.0, 0.0, 10.0, "WARNING"),
}
FIELD_SETS = (
    ("depth", "chl", "wt", "sal"),
    ("depth", "lu412", "es412"),
    ("depth", "chl", "kd490", "sal", "wt"),
)
DELIMITERS = {"comma": ",", "space": " ", "tab": "\t"}
MISSING, BDL = "-999", "-888"
# Every batch has the same shape, so that which batches fall into a run's
# timed window does not move its latency: one file per field set, the
# delimiters rotated across the files, and (after the first batch)
# exactly one file re-submitting a dataset id published earlier.
FILES_PER_BATCH = len(FIELD_SETS)
ROWS_PER_FILE = 700
MISSING_SHARE = 0.03
BAD_SHARE = 0.02


@dataclass
class SeabassFile:
    path: str
    dataset_id: str
    # expected observations: (field, value) for every non-missing cell
    observations: list[tuple[str, float]]
    delimiter: str
    fields: tuple[str, ...]
    nbytes: int


def _value(rng: random.Random, name: str) -> str:
    dec, lo, hi, vlo, vhi, _sev = FIELDS[name]
    r = rng.random()
    if r < MISSING_SHARE:
        return rng.choice((MISSING, BDL)) if name != "depth" else MISSING
    if r < MISSING_SHARE + BAD_SHARE:
        v = vhi + rng.uniform(1.0, 50.0)  # out of range
    else:
        v = rng.uniform(lo, hi)
    return f"{v:.{dec}f}"


def write_seabass_file(rng: random.Random, path: str, dataset_id: str, rows: int,
                       fields: tuple[str, ...], delim_name: str) -> SeabassFile:
    sep = DELIMITERS[delim_name]
    lines = [
        "/begin_header",
        "/investigators=Bench_Mark",
        f"/experiment=EXP{rng.randint(1, 99):02d}",
        f"/cruise={dataset_id}",
        f"/delimiter={delim_name}",
        f"/missing={MISSING}",
        f"/below_detection_limit={BDL}",
        "/fields=" + ",".join(fields),
        "/end_header",
    ]
    obs: list[tuple[str, float]] = []
    for _ in range(rows):
        cells = [_value(rng, f) for f in fields]
        if delim_name == "space":
            # aligned tables pad with runs of spaces
            line = "".join(c.rjust(10) for c in cells)
        else:
            line = sep.join(cells)
        lines.append(line)
        obs.extend((f, float(c)) for f, c in zip(fields, cells) if c not in (MISSING, BDL))
    text = "\n".join(lines) + "\n"
    with open(path, "w") as f:
        f.write(text)
    return SeabassFile(path, dataset_id, obs, delim_name, fields, len(text))


def parse_seabass_file(path: str) -> list[tuple[str, float]]:
    """Independent reference parser: the (field, value) observations a
    SeaBASS file holds, missing and below-detection tokens dropped."""
    header: dict[str, str] = {}
    obs: list[tuple[str, float]] = []
    fields: list[str] = []
    in_body = False
    with open(path) as f:
        for raw in f:
            line = raw.strip()
            if not in_body:
                if line == "/end_header":
                    in_body = True
                    fields = header["fields"].split(",")
                elif line.startswith("/") and "=" in line:
                    k, v = line[1:].split("=", 1)
                    header[k.lower()] = v
                continue
            if not line or line.startswith(("/", "!")):
                continue
            delim = header.get("delimiter", "comma")
            cells = line.split() if delim == "space" else line.split(DELIMITERS[delim])
            nulls = {header.get("missing"), header.get("below_detection_limit")}
            for name, cell in zip(fields, cells):
                cell = cell.strip()
                if cell not in nulls:
                    obs.append((name, float(cell)))
    return obs


def expected_status(field_name: str, value: float) -> str:
    _dec, _lo, _hi, vlo, vhi, sev = FIELDS[field_name]
    return "OK" if vlo <= value <= vhi else sev


def write_batches(root: str, seed: int, n_batches: int, files_per_batch: int = FILES_PER_BATCH,
                  rows: int = ROWS_PER_FILE) -> list[list[SeabassFile]]:
    """Submission batches 0..n_batches (the first ones warm up, the rest
    are timed). File k of batch b has field set k and delimiter k + b
    (both cyclic), so every batch holds as many header signatures as
    files; in every batch after the first, a seeded file re-submits a
    seeded dataset id published earlier."""
    rng = random.Random(f"seabass-{seed}")
    published: list[str] = []
    next_id = 0
    delims = list(DELIMITERS)
    batches: list[list[SeabassFile]] = []
    for b in range(n_batches + 1):
        d = os.path.join(root, f"batch{b:04d}")
        os.makedirs(d, exist_ok=True)
        files = []
        resubmit = rng.randrange(files_per_batch) if b > 0 else -1
        for k in range(files_per_batch):
            if k == resubmit:
                ds = rng.choice(published)
            else:
                ds = f"ds{next_id:06d}"
                next_id += 1
            fields = FIELD_SETS[k % len(FIELD_SETS)]
            delim = delims[(k + b) % len(delims)]
            files.append(write_seabass_file(rng, os.path.join(d, f"{ds}.sb"), ds, rows,
                                            fields, delim))
        published.extend(f.dataset_id for f in files)
        batches.append(files)
    return batches
