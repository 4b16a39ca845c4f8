"""Output checks, run after the timed loop.

Every result the program returned during the timed loop is compared with
an independent answer computed by DuckDB over the same files:

- catalog and prep queries: the catalog's own ``oracle_sql()`` text;
- ANN searches: the IVF arithmetic replayed in SQL (lowest-id codebook,
  cosine argmax cell assignment, probe of the ``nprobe`` nearest cells),
  and recall against the exact top-k computed with NumPy;
- the Yelp star and its endpoints: SQL over the written parquet snapshot.

Results are compared as canonical row sets: columns sorted by name, rows
sorted by their values, floats compared bit for bit.
"""

from __future__ import annotations

import hashlib
import math
import re
from datetime import datetime

import duckdb
import numpy as np

CATALOG_TABLES = ("region nation customer supplier part orders lineitem events "
                  "documents embeddings").split()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canon(rows: list[dict]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0])
    out = [tuple(_norm(r[c]) for c in cols) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [tuple(cols)] + out


def digest(rows: list[dict]) -> str:
    return hashlib.sha256(repr(canon(rows)).encode()).hexdigest()


def _fetch(con, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


class CatalogOracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, data_dir: str, tables=CATALOG_TABLES) -> None:
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self._digests: dict[str, str] = {}

    def close(self) -> None:
        self.con.close()

    def digest(self, name: str, sql: str) -> str:
        if name not in self._digests:
            self._digests[name] = digest(_fetch(self.con, sql))
        return self._digests[name]

    # ---- ANN ---------------------------------------------------------

    def ivf_replay(self, ids: list[int], k: int, nprobe: int, cells: int) -> list[dict]:
        """The persisted index's search, replayed from the raw table."""
        cos = _COS_SQL
        id_list = ",".join(str(i) for i in ids)
        return _fetch(self.con, f"""
        WITH cents AS (
          SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cent_id,
                 embedding AS cent_emb
          FROM embeddings ORDER BY vec_id LIMIT {cells}
        ),
        scored AS (
          SELECT e.vec_id, e.embedding, c.cent_id,
                 {cos.format(a='e.embedding', b='c.cent_emb')} AS cent_sim
          FROM embeddings e CROSS JOIN cents c
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY cent_sim DESC, cent_id) AS rn
          FROM scored
        ),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, cent_id AS cell
              FROM ranked WHERE vec_id IN ({id_list}) AND rn <= {nprobe}),
        pairs AS (
          SELECT query_id, c.vec_id AS neighbor_id,
                 {cos.format(a='q_emb', b='c.embedding')} AS cos_sim
          FROM q JOIN (SELECT vec_id, embedding, cent_id AS cell FROM ranked
                       WHERE rn = 1) c USING (cell)
          WHERE c.vec_id != query_id
        )
        SELECT query_id, neighbor_id, cos_sim, rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cos_sim DESC, neighbor_id) AS rk
          FROM pairs) WHERE rk <= {k}
        """)

    def exact_topk(self, ids: list[int], k: int) -> dict[int, set[int]]:
        """Exact cosine top-k neighbours (self excluded) per query id."""
        tbl = self.con.execute(
            "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchnumpy()
        vid = tbl["vec_id"].astype(np.int64)
        x = np.stack([np.asarray(e, dtype=np.float64) for e in tbl["embedding"]])
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        pos = {int(v): i for i, v in enumerate(vid)}
        out = {}
        for q in ids:
            sims = np.round(x @ x[pos[q]], 4)
            sims[pos[q]] = -np.inf
            order = np.lexsort((vid, -sims))[:k]
            out[q] = {int(vid[i]) for i in order}
        return out


# The cosine expression the catalog's IVF oracles use (double arithmetic,
# rounded to 4 places like the Spark verify step).
_COS_SQL = """
    ROUND(
      list_sum(list_transform(range(1, len({a}) + 1),
               i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      4)
"""


# ---- Yelp star and endpoints ---------------------------------------------

_PRICE = re.compile(r"^\${1,4}$")
_HEALTH = re.compile(r"^[A-Z]$")
_BUSINESS_COLS = "b.id, b.name, b.website, b.phone_number, b.address, b.price, b.health_score"
WEEKDAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]


def valid_names(rows: list[dict]) -> set[str]:
    """Names of the scraped rows that pass the quarantine constraints."""
    return {r["name"] for r in rows
            if r["name"] is not None
            and (r["price"] is None or _PRICE.search(r["price"]))
            and (r["health_score"] is None or _HEALTH.search(r["health_score"]))}


class StarOracle:
    """DuckDB views over one written star snapshot."""

    TABLES = ("business", "weekday", "food_category", "open_hours",
              "business_food_category", "business_search_term", "search_term",
              "business_highlight", "highlight", "business_amenity", "amenity")

    def __init__(self, snap_dir: str) -> None:
        self.con = duckdb.connect()
        for t in self.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{snap_dir}/{t}.parquet/*.parquet')")

    def close(self) -> None:
        self.con.close()

    def business_ids(self) -> dict[str, int]:
        return dict(self.con.execute("SELECT name, id FROM business").fetchall())

    def integrity_errors(self) -> list[str]:
        """Unique keys, and every foreign key resolving."""
        errs = []
        for t in self.TABLES:
            n, d = self.con.execute(f"SELECT count(*), count(DISTINCT id) FROM {t}").fetchone()
            if n != d:
                errs.append(f"{t}: {n - d} duplicate ids")
        fks = [("open_hours", "business_id", "business"), ("open_hours", "weekday_id", "weekday")]
        for bridge, dim in (("business_food_category", "food_category"),
                            ("business_search_term", "search_term"),
                            ("business_highlight", "highlight"),
                            ("business_amenity", "amenity")):
            fks += [(bridge, "business_id", "business"), (bridge, f"{dim}_id", dim)]
        for t, col, ref in fks:
            (bad,) = self.con.execute(
                f"SELECT count(*) FROM {t} WHERE {col} NOT IN (SELECT id FROM {ref})").fetchone()
            if bad:
                errs.append(f"{t}.{col}: {bad} dangling")
        return errs

    def _dim_id(self, table: str, name: str) -> int | None:
        row = self.con.execute(
            f"SELECT id FROM {table} WHERE lower(name) = lower(?)", [name]).fetchone()
        return row[0] if row else None

    def endpoint(self, kind: str, p: dict, page_size: int = 10):
        """(total_results, page rows) the endpoint should return."""
        if kind in ("category", "deep_page"):
            cid = self._dim_id("food_category", p["category"])
            if cid is None:
                return None, []
            base = (f"SELECT {_BUSINESS_COLS} FROM business b JOIN business_food_category f "
                    f"ON b.id = f.business_id WHERE f.food_category_id = {cid}")
            order = "id"
            after = f"WHERE id > {p['after_id']}" if kind == "deep_page" else ""
            offset = 0 if kind == "deep_page" else (p["page"] - 1) * page_size
        elif kind == "day":
            wid = self._dim_id("weekday", p["weekday"])
            base = (f"SELECT {_BUSINESS_COLS}, o.open_time, o.close_time FROM business b "
                    f"JOIN open_hours o ON b.id = o.business_id WHERE o.weekday_id = {wid}")
            order, after, offset = "id, open_time, close_time", "", (p["page"] - 1) * page_size
        else:
            now: datetime = p["now"]
            secs = now.hour * 3600 + now.minute * 60 + now.second
            today = now.strftime("%a")
            prev = WEEKDAYS[(WEEKDAYS.index(today) - 1) % 7]
            t_id, p_id = self._dim_id("weekday", today), self._dim_id("weekday", prev) or -1
            base = (f"SELECT {_BUSINESS_COLS}, o.close_time, CAST(CASE WHEN o.close_time < {secs} "
                    f"THEN o.close_time + 86400 - {secs} ELSE o.close_time - {secs} END AS INT) "
                    f"AS time_until_close FROM business b JOIN open_hours o ON b.id = o.business_id "
                    f"WHERE (o.weekday_id = {t_id} AND o.open_time <= {secs} AND o.close_time > {secs}) "
                    f"OR (o.weekday_id = {t_id} AND o.open_time <= {secs} AND o.close_time < o.open_time) "
                    f"OR (o.weekday_id = {p_id} AND o.open_time > o.close_time AND o.close_time > {secs})")
            order, after, offset = "id, close_time", "", 0
        (total,) = self.con.execute(f"SELECT count(*) FROM ({base})").fetchone()
        rows = _fetch(self.con, f"SELECT * FROM ({base}) {after} ORDER BY {order} "
                                f"LIMIT {page_size} OFFSET {offset}")
        return total, rows
