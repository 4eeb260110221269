"""Output checks, run with DuckDB after the program has exited.

Each check returns (failures, info): `failures` maps an op id (or -1 for
run-level checks) to a message, so a wrong answer counts as a failed op.
Comparison follows tools/compare.py: column-name-sorted, row-sorted,
exact cell values, floats by repr; equal multisets also hash equal.
"""
import hashlib
import json
import math

import duckdb

STAR = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


def _connect(work):
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute(f"SET temp_directory = '{work}/duckdb_tmp'")
    con.execute("SET threads = 2")
    return con


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    digest = hashlib.sha256(json.dumps([[cols[i] for i in order], body]).encode()).hexdigest()
    return digest, body


def olap(result, inputs, work):
    con = _connect(work)
    for t in STAR:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/tables/{t}.parquet'")
    fails = {}
    checks = result["checks"]
    for s in checks["selects"]:
        exp = con.sql(s["oracle"])
        got_h, got = _canon(s["cols"], s["rows"])
        exp_h, want = _canon(exp.columns, exp.fetchall())
        if got_h != exp_h:
            first = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
            fails[s["op"]] = (f"select differs from DuckDB: {len(got)} vs {len(want)} rows"
                              + (f"; row {first}: {got[first]} vs {want[first]}" if first is not None else ""))
    for p in checks["partitions"]:
        years = ", ".join(str(y) for y in p["inserted"])
        want = dict(con.sql(
            "SELECT strftime(l_shipdate, '%Y-%m'), COUNT(*) FROM lineitem "
            f"WHERE year(l_shipdate) IN ({years}) GROUP BY 1").fetchall())
        if p["counts"] != want:
            diff = sorted(k for k in set(want) | set(p["counts"])
                          if want.get(k) != p["counts"].get(k))
            fails[p["op"]] = f"partition row counts differ after insert at {diff[:4]}"
    return fails, {"selects_checked": len(checks["selects"]),
                   "inserts_checked": len(checks["partitions"])}


def curate(result, inputs, work):
    con = _connect(work)
    con.execute(f"CREATE VIEW corpus AS SELECT * FROM '{inputs}/corpus.parquet'")
    plants = json.load(open(f"{inputs}/plants.json"))
    checks = result["checks"]
    fails, first = {}, None
    group_of = {d: g for g, ids in enumerate(plants["exact_groups"]) for d in ids}
    for o in checks["outputs"]:
        out = f"read_parquet('{o['dir']}/*.parquet')"
        ids = [r[0] for r in con.sql(f"SELECT doc_id FROM {out} ORDER BY doc_id").fetchall()]
        msgs = []
        if not ids:
            msgs.append("empty output")
        if len(set(ids)) != len(ids):
            msgs.append("duplicate doc_id in output")
        seen = {}
        for d in ids:
            if d in group_of:
                seen[group_of[d]] = seen.get(group_of[d], 0) + 1
        kept_twice = sum(1 for n in seen.values() if n > 1)
        if kept_twice:
            msgs.append(f"{kept_twice} planted exact-duplicate groups kept more than once")
        altered = con.sql(f"SELECT COUNT(*) FROM {out} o LEFT JOIN corpus c USING (doc_id) "
                          "WHERE c.doc_id IS NULL OR o.text <> c.text OR o.source <> c.source "
                          "OR o.lang <> c.lang").fetchone()[0]
        if altered:
            msgs.append(f"{altered} output rows not in the corpus as written")
        if first is None:
            first = ids
        elif ids != first:
            msgs.append("output differs from the run's first job")
        if msgs:
            fails[o["op"]] = "; ".join(msgs)
    info = {"jobs_checked": len(checks["outputs"]), "kept_docs": len(first or [])}
    if "clusters" in checks:
        stage = {r[0] for r in con.sql(
            f"SELECT doc_id FROM read_parquet('{checks['stage_ids']}/*.parquet')").fetchall()}
        label = dict(con.sql(
            f"SELECT doc_id, keeper FROM read_parquet('{checks['clusters']}/*.parquet')").fetchall())
        edges = [(a, b) for c in plants["near_chains"] for a, b in zip(c, c[1:])
                 if a in stage and b in stage]
        found = sum(1 for a, b in edges if label.get(a, a) == label.get(b, b))
        info["near_dup_edges"] = len(edges)
        info["near_dup_recall"] = found / len(edges) if edges else float("nan")
    return fails, info


def _bm25_sql(terms, batches, k):
    qterms = " UNION ALL ".join(f"SELECT '{t}' AS term" for t in terms)
    return f"""WITH qterms AS ({qterms}),
      dl AS (SELECT doc_id, dl FROM dl_all WHERE batch < {batches}),
      totals AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_tok, CAST(COUNT(*) AS BIGINT) AS n_docs FROM dl),
      tf AS (SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
             FROM toks t JOIN qterms q USING (term) WHERE t.batch < {batches}
             GROUP BY t.doc_id, t.term),
      dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT tf.doc_id,
          ((1000000 * (x.n_docs - d.df + 1)) // (d.df + 1)
            * ((LEAST(tf.tf, 4000000) * 2200000 * 1000000)
               // (LEAST(tf.tf, 4000000) * 1000000
                  + (1200000 * ((1000000 - 750000)
                     + (750000 * ((1000000 * LEAST(dl.dl, 8000000) * 1000000)
                        // (1000000 * (x.total_tok // x.n_docs)
                           + (1000000 * (x.total_tok % x.n_docs)) // x.n_docs))) // 1000000))
                    // 1000000))
          ) // 1000000 AS s
        FROM tf JOIN dl USING (doc_id) JOIN dfreq d USING (term), totals x)
      SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_ppm FROM scored
      GROUP BY doc_id ORDER BY score_ppm DESC, doc_id LIMIT {k}"""


def ingest_search(result, inputs, work):
    """Sampled searches replay the integer-ppm BM25 chain over the corpus
    prefix the index held (base plus the batches staged so far)."""
    con = _connect(work)
    params = json.load(open(f"{inputs}/params.json"))
    checks = result["checks"]
    staged = checks["staged"]
    con.execute(f"CREATE TABLE corpus AS SELECT doc_id, text, -1 AS batch FROM '{inputs}/base.parquet'")
    for b in range(staged):
        con.execute(f"INSERT INTO corpus SELECT doc_id, text, {b} FROM "
                    f"'{work}/stream_in/b{b:05d}.parquet'")
    con.execute("CREATE TABLE toks AS SELECT doc_id, batch, unnest(string_split(text, ' ')) AS term "
                "FROM corpus")
    con.execute("CREATE TABLE dl_all AS SELECT doc_id, batch, CAST(COUNT(*) AS BIGINT) AS dl "
                "FROM toks GROUP BY doc_id, batch")
    fails = {}
    for s in checks["searches"]:
        want = [list(r) for r in con.sql(_bm25_sql(s["terms"], s["batches"], params["top_k"])).fetchall()]
        if [list(r) for r in s["rows"]] != want:
            fails[s["op"]] = f"top-{params['top_k']} for {s['terms']} differs from the DuckDB replay"
    for f in checks["fsck"]:
        bad = [r for r in f["rows"] if r[2] != 0]
        if bad:
            fails[f["op"]] = f"IndexFsck.checkBm25 after compaction: {bad}"
    want_docs = params["n_base"] + staged * checks["batch_docs"]
    if checks["doclens"] != want_docs:
        fails[-1] = f"index holds {checks['doclens']} docs, expected {want_docs}"
    text = con.sql("SELECT batch, SUM(strlen(text)) FROM corpus GROUP BY batch").fetchall()
    return fails, {"searches_checked": len(checks["searches"]),
                   "compactions_checked": len(checks["fsck"]),
                   "text_bytes": {int(b): int(n) for b, n in text}}


CHECKS = {"olap": olap, "curate": curate, "ingest_search": ingest_search}
