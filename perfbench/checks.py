"""Answer checks that run in DuckDB, independent of the engine.

The benchmark JVM writes one JSON record per checked answer; `verify`
recomputes each from the generated parquet inputs and returns a list of
failures (empty when every answer is right).
"""
import json
import os

import duckdb

# Same expressions as graft.model.Tables.students (the engine's view).
STUDENTS = """SELECT c_custkey AS id, lower(c_name) AS name,
  lower(c_mktsegment) AS college, CAST(c_nationkey AS VARCHAR) AS board,
  CAST(c_custkey % 7 AS VARCHAR) AS stream,
  CAST(CAST(floor(c_acctbal/1000) AS INT) AS VARCHAR) AS address
  FROM customer"""

# graft.ops.Search's BM25 constants and its top-k.
K1, B, BM25_TOP_K = 1.2, 0.75, 20

RULES = [("college", "SAME_COLLEGE"), ("board", "SAME_BOARD"),
         ("stream", "SAME_STREAM"), ("address", "NEARBY")]


def norm(v):
    return "" if v is None else str(v).strip().lower()


def canon(rows):
    return sorted(tuple("" if x is None else str(x) for x in r) for r in rows)


def message(names):
    if not names:
        return "Sorry, no matches found for this platform."
    if len(names) == 1:
        return f"{names[0]} is also in this platform."
    if len(names) == 2:
        return f"{names[0]} and {names[1]} are also in this platform."
    return ", ".join(names[:-1]) + f", and {names[-1]} are also in this platform."


class Oracle:
    def __init__(self, data_dir, extra_customers=()):
        self.db = duckdb.connect()
        self.db.execute(f"SET threads TO {os.cpu_count()}")
        self.db.execute(f"CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{data_dir}/documents.parquet/*.parquet')")
        self.db.execute(f"CREATE TABLE customer AS SELECT * FROM "
                        f"read_parquet('{data_dir}/customer.parquet/*.parquet')")
        for row in extra_customers:
            self.db.execute("INSERT INTO customer VALUES (?, ?, ?, ?, ?)", row)
        self.db.execute(f"CREATE TABLE students AS {STUDENTS}")
        self.by_id = {r[0]: r for r in self.db.execute(
            "SELECT id, name, college, board, stream, address FROM students").fetchall()}

    def by_id_rows(self, i):
        return [self.by_id[i]] if i in self.by_id else []

    def recommend(self, i):
        a = self.by_id[i]
        scored = []
        for r in self.by_id.values():
            if r[0] == i:
                continue
            # board, stream, college, address: null-safe normalised equality
            score = sum(norm(r[k]) == norm(a[k]) for k in (3, 4, 2, 5))
            if score > 0:
                scored.append((-score, r[0], r[1]))
        scored.sort()
        return message([s[2] for s in scored]), len(scored)

    def pair_rel_types(self, a_name, b_name):
        a = [r for r in self.by_id.values() if r[1] == a_name.lower()][:1]
        b = [r for r in self.by_id.values() if r[1] == b_name.lower()][:1]
        if not a or not b:
            return []
        a, b = a[0], b[0]
        types = []
        if a[0] != b[0]:
            cols = {"college": 2, "board": 3, "stream": 4, "address": 5}
            for attr, t in RULES:
                x, y = a[cols[attr]], b[cols[attr]]
                if x is not None and y is not None and norm(x) != "" and norm(x) == norm(y):
                    types.append(t)
            if a[0] // 2 == b[0] // 2:
                types.append("SHARES_INTEREST")
        return sorted(types) or [""]

    def fuzzy(self, q):
        """FuzzySearch.topK: levenshtein ratio >= 70, top 10 by (score desc, id)."""
        return self.db.execute(
            "SELECT id, score FROM (SELECT id, round((1.0 - CAST(levenshtein(name, ?) AS DOUBLE)"
            " / CAST(greatest(length(name), length(?)) AS DOUBLE)) * 100.0, 4) AS score"
            " FROM students) WHERE score >= 70.0 ORDER BY score DESC, id LIMIT 10",
            [q, q]).fetchall()

    def bm25(self, terms):
        """Search.bm25TopK over `terms`: the engine's bm25_search oracle SQL."""
        tfs = ", ".join(f"CAST(len(list_filter(w, x -> x = '{t}')) AS DOUBLE) AS tf_{t}"
                        for t in terms)
        dfs = ", ".join(f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{t}"
                        for t in terms)
        parts = " + ".join(
            f"ln((n_docs - df_{t} + 0.5) / (df_{t} + 0.5) + 1) * (tf_{t} * {K1 + 1}) / "
            f"(tf_{t} + {K1} * ({1 - B} + {B} * dl / avgdl))" for t in terms)
        return self.db.execute(
            "WITH W AS (SELECT doc_id, string_split(regexp_replace(lower(trim(text)), "
            "'[ \t\n\f\r]+', ' ', 'g'), ' ') AS w FROM documents), "
            f"D AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, {tfs} FROM W), "
            f"S AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, {dfs} FROM D), "
            f"X AS (SELECT doc_id, round({parts}, 4) AS score FROM D CROSS JOIN S) "
            f"SELECT doc_id, score FROM X WHERE score > 0 ORDER BY score DESC, doc_id "
            f"LIMIT {BM25_TOP_K}").fetchall()

    def edge_counts(self):
        """Closed form: sum over each rule's groups of C(n_g, 2)."""
        out = {}
        for attr, t in RULES:
            out[t] = self.db.execute(
                f"SELECT coalesce(sum(n * (n - 1) // 2), 0) FROM (SELECT count(*) AS n "
                f"FROM students WHERE {attr} IS NOT NULL AND lower(trim({attr})) <> '' "
                f"GROUP BY lower(trim({attr})))").fetchone()[0]
        return out


def verify(checks_file, data_dir):
    failures = []
    lines = [ln for ln in checks_file.read_text().splitlines() if ln.strip()]
    if not lines:
        return failures
    records = [json.loads(ln) for ln in lines]
    o = Oracle(data_dir, [c["row"] for c in records if c["kind"] == "newcomer"])
    for c in records:
        k = c["kind"]
        if k == "newcomer":
            continue
        elif k == "byId":
            want = o.by_id_rows(c["id"])
            if canon(c["rows"]) != canon(want):
                failures.append(f"byId {c['id']}: {c['rows']} != {want}")
        elif k == "byName":
            want = [r for r in o.by_id.values() if r[1] == c["name"].lower()][:1]
            if canon(c["rows"]) != canon(want):
                failures.append(f"byName {c['name']}: {c['rows']} != {want}")
        elif k == "recommend":
            msg, total = o.recommend(c["id"])
            if (c["message"], c["total"]) != (msg, total):
                failures.append(f"recommend {c['id']}: total {c['total']} != {total}"
                                f" or message differs")
        elif k == "pair":
            got = sorted("" if r[4] is None else r[4] for r in c["rows"])
            want = o.pair_rel_types(c["a"], c["b"])
            if got != want:
                failures.append(f"pair {c['a']},{c['b']}: {got} != {want}")
        elif k in ("fuzzy", "bm25"):
            arg = c["q"] if k == "fuzzy" else c["terms"]
            want = o.fuzzy(arg) if k == "fuzzy" else o.bm25(arg)
            got = [tuple(r) for r in c["rows"]]
            if [r[0] for r in got] != [r[0] for r in want] or any(
                    abs(a[1] - b[1]) > 1e-9 for a, b in zip(got, want)):
                failures.append(f"{k} {arg}: {got} != {want}")
        elif k == "edge_counts":
            want = o.edge_counts()
            if c["counts"] != want:
                failures.append(f"edge counts {c['counts']} != closed form {want}")
        elif k == "oracle":
            want = o.db.execute(c["sql"]).fetchall()
            if canon(c["rows"]) != canon(want):
                failures.append(f"oracle {c['name']}: {len(c['rows'])} engine rows "
                                f"differ from {len(want)} oracle rows")
        else:
            failures.append(f"unknown check kind {k}")
    return failures
