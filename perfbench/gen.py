"""Seeded input generator for the benchmark workloads.

Everything the program receives is made here from one integer seed: the
same seed gives byte-identical parquet files and op lists. The generator's
parameters are returned (and written to params.json) so every result can be
read next to the inputs that produced it.

    olap           TPC-H-style star schema (sf 0.1 shapes) plus a list of
                   Tajo-dialect statements, each with its DuckDB spelling
    curate         Zipf corpus with planted exact duplicates and
                   near-duplicate chains, across sources and languages
    ingest_search  Zipf base corpus, ingest batch files and Zipf-weighted
                   query terms
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARAMS = {
    "olap": {
        "sf": 0.1, "n_ops": 600,
        "row_group_rows": 100000,
    },
    # duplicate rates and the 2-word edit are the repository's fixture
    # rates (tools/gen_sf.py, documents table); the rest are assumptions,
    # each with its reason in perfbench/README.md
    "curate": {
        "n_docs": 2000, "vocab_per_lang": 20000, "zipf_s": 1.07,
        "words_min": 60, "words_max": 240, "short_share": 0.05,
        "symbol_share": 0.03, "numeric_share": 0.03,
        "exact_dup_share": 0.0016, "near_dup_share": 0.012,
        "near_chain_max": 2, "near_edit_words": 2,
    },
    # n_batches bounds a run: warm_cycles batches in set-up, then
    # compact_every batches per step, so (64 - 2) / 2 = 31 steps
    "ingest_search": {
        "n_base": 2000, "vocab_per_lang": 20000, "zipf_s": 1.07,
        "words_min": 40, "words_max": 160, "batch_docs": 250, "n_batches": 64,
        "warm_cycles": 2, "searches_per_cycle": 4, "terms_max": 2,
        "compact_every": 2, "top_k": 10, "standing_terms": 3,
    },
}

LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SYLLABLES = {
    "en": "ba be ca co da de fa ge ha in ka la le ma me na ne or pa pe ra re sa se ta te th to un we".split(),
    "de": "ach bau ber dam der ein fel gen hau ich keit lan lich mer nen rei sch ste tag und ver wal zei".split(),
    "fr": "ai au ce che de du eau en et la le lle mai ne on ou que re sse te tion un vou ette".split(),
    "es": "al ca ci da de do el en es ga la lo ma mo na no pa que ra ro sa ta te to ue".split(),
    "zh": "an ba bei chen da de fang guo hai jia jin li ming pei qing ren shan tian wang xin yang zhong".split(),
}
EN_STOP = ["the", "be", "to", "of", "and", "that", "have", "with"]
SOURCES = [f"src{i}" for i in range(8)]
SOURCE_P = [0.34, 0.2, 0.12, 0.1, 0.08, 0.07, 0.05, 0.04]


def _write(path, table, row_group_size=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)


def _vocab(rng, lang, n):
    """n distinct words built from the language's syllables; rank order is
    the Zipf rank (English ranks 0-7 are Gopher's stop words)."""
    syl = np.array(SYLLABLES[lang])
    seen, words = set(), []
    if lang == "en":
        seen.update(EN_STOP)
        words.extend(EN_STOP)
    while len(words) < n:
        k = rng.integers(1, 5, 4 * n)
        parts = syl[rng.integers(0, len(syl), (4 * n, 4))]
        for i in range(4 * n):
            w = "".join(parts[i, :k[i]])
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return np.array(words, dtype=object)


def _zipf_cdf(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w) / w.sum()


class Corpus:
    """Zipf documents over per-language vocabularies."""

    def __init__(self, rng, vocab_per_lang, zipf_s):
        self.rng = rng
        self.vocab = {l: _vocab(rng, l, vocab_per_lang) for l in LANGS}
        self.cdf = _zipf_cdf(vocab_per_lang, zipf_s)

    def words(self, lang, n):
        return self.vocab[lang][np.searchsorted(self.cdf, self.rng.random(n))]

    def docs(self, langs, lengths):
        flat = np.empty(int(lengths.sum()), dtype=object)
        offs = np.concatenate([[0], np.cumsum(lengths)])
        for l in LANGS:
            idx = np.nonzero(langs == l)[0]
            if len(idx) == 0:
                continue
            pos = np.concatenate([np.arange(offs[i], offs[i + 1]) for i in idx])
            flat[pos] = self.words(l, len(pos))
        return [flat[offs[i]:offs[i + 1]].tolist() for i in range(len(lengths))]


def _draw_docs(rng, corpus, n, wmin, wmax):
    langs = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    lengths = rng.integers(wmin, wmax + 1, n)
    return langs, corpus.docs(langs, lengths)


# ------------------------------------------------------------------ curate

def curate(seed, out):
    p = PARAMS["curate"]
    rng = np.random.default_rng([seed, 1])
    corpus = Corpus(rng, p["vocab_per_lang"], p["zipf_s"])
    n = p["n_docs"]
    langs, toks = _draw_docs(rng, corpus, n, p["words_min"], p["words_max"])
    # low-quality docs the structural rules must drop
    kinds = rng.choice(4, n, p=[1 - p["short_share"] - p["symbol_share"] - p["numeric_share"],
                                p["short_share"], p["symbol_share"], p["numeric_share"]])
    for i in np.nonzero(kinds == 1)[0]:
        toks[i] = toks[i][:int(rng.integers(8, 40))]
    for i in np.nonzero(kinds == 2)[0]:
        for j in rng.choice(len(toks[i]), len(toks[i]) // 5, replace=False):
            toks[i][j] = "#" + toks[i][j]
    for i in np.nonzero(kinds == 3)[0]:
        for j in rng.choice(len(toks[i]), len(toks[i]) // 3, replace=False):
            toks[i][j] = str(int(rng.integers(0, 100000)))
    texts = [" ".join(t) for t in toks]
    lang_l = langs.tolist()
    source_l = np.array(SOURCES)[rng.choice(len(SOURCES), n, p=SOURCE_P)].tolist()
    good = np.nonzero(kinds == 0)[0]

    # exact duplicates: verbatim copies, often under another source
    exact_groups = {}
    for src in rng.choice(good, max(1, int(p["exact_dup_share"] * n)), replace=True):
        exact_groups.setdefault(int(src), [int(src)])
        exact_groups[int(src)].append(len(texts))
        texts.append(texts[src])
        lang_l.append(lang_l[src])
        source_l.append(SOURCES[rng.choice(len(SOURCES), p=SOURCE_P)])
    # near-duplicate chains of 1 to near_chain_max links, near_dup_share * n
    # links in all: each link replaces near_edit_words words of the previous
    n_near = int(p["near_dup_share"] * n)
    lengths = []
    while sum(lengths) < n_near:
        lengths.append(min(int(rng.integers(1, p["near_chain_max"] + 1)), n_near - sum(lengths)))
    roots = rng.choice(np.setdiff1d(good, list(exact_groups)), len(lengths), replace=False)
    chains = []
    for r, links in zip(roots, lengths):
        chain, cur = [int(r)], toks[r]
        for _ in range(links):
            cur = list(cur)
            m = p["near_edit_words"]
            for j, w in zip(rng.choice(len(cur), m, replace=False),
                            corpus.words(lang_l[r], m)):
                cur[j] = w
            chain.append(len(texts))
            texts.append(" ".join(cur))
            lang_l.append(lang_l[r])
            source_l.append(SOURCES[rng.choice(len(SOURCES), p=SOURCE_P)])
        chains.append(chain)

    # ids are a permutation, so plants are not clustered at the id tail
    ids = rng.permutation(len(texts)).astype(np.int64) + 1
    _write(f"{out}/corpus.parquet", pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": texts,
        "lang": lang_l, "source": source_l}))
    plants = {"exact_groups": [[int(ids[i]) for i in g] for g in exact_groups.values()],
              "near_chains": [[int(ids[i]) for i in c] for c in chains]}
    with open(f"{out}/plants.json", "w") as f:
        json.dump(plants, f)
    return dict(p, n_total=len(texts), n_exact_groups=len(exact_groups),
                n_near_chains=len(chains))


# ----------------------------------------------------------- ingest_search

def ingest_search(seed, out):
    p = PARAMS["ingest_search"]
    rng = np.random.default_rng([seed, 2])
    corpus = Corpus(rng, p["vocab_per_lang"], p["zipf_s"])
    n_total = p["n_base"] + p["batch_docs"] * p["n_batches"]
    _, toks = _draw_docs(rng, corpus, n_total, p["words_min"], p["words_max"])
    texts = [" ".join(t) for t in toks]
    ids = np.arange(1, n_total + 1, dtype=np.int64)
    b = p["n_base"]
    _write(f"{out}/base.parquet", pa.table({"doc_id": ids[:b], "text": texts[:b]}))
    for k in range(p["n_batches"]):
        lo = b + k * p["batch_docs"]
        hi = lo + p["batch_docs"]
        _write(f"{out}/batches/b{k:05d}.parquet",
               pa.table({"doc_id": ids[lo:hi], "text": texts[lo:hi]}))
    # queries draw Zipf-weighted terms: mostly English, like the corpus
    def terms(n):
        lang = LANGS[rng.choice(len(LANGS), p=LANG_P)]
        return sorted(set(corpus.words(lang, n).tolist()))
    # a cycle's searches take 1, 2, ... terms, so every run sees the same
    # mix of query lengths
    searches = [[terms(1 + i % p["terms_max"]) for i in range(p["searches_per_cycle"])]
                for _ in range(p["n_batches"])]
    with open(f"{out}/queries.json", "w") as f:
        json.dump({"standing": terms(p["standing_terms"]), "cycles": searches}, f)
    return dict(p)


# -------------------------------------------------------------------- olap

def _star(rng, sf, out, rg):
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_li = 4 * n_ord
    _write(f"{out}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(f"{out}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(f"{out}/customer.parquet", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)])}))
    _write(f"{out}/supplier.parquet", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)}))
    adjs = np.array(["small", "red", "blue", "green", "large", "dim", "shiny", "plain"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "cog", "pin", "tube", "plate"])
    keys = np.arange(n_part)
    _write(f"{out}/part.parquet", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)], " "),
                                       nouns[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(0, 25, n_part).astype(str))),
        "p_type": pa.array(np.array(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD",
                                     "PROMO"])[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (keys % 1000) * 0.1}))
    od0 = np.datetime64("1995-01-01")
    od_days = int((np.datetime64("2001-08-01") - od0) / np.timedelta64(1, "D"))
    odate = od0 + rng.integers(0, od_days + 1, n_ord).astype("timedelta64[D]")
    _write(f"{out}/orders.parquet", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)])}), row_group_size=rg)
    sd0 = np.datetime64("1995-01-02")
    sd_days = int((np.datetime64("2001-11-04") - sd0) / np.timedelta64(1, "D"))
    sdate = sd0 + rng.integers(0, sd_days + 1, n_li).astype("timedelta64[D]")
    _write(f"{out}/lineitem.parquet", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(sdate.astype("datetime64[us]"), pa.timestamp("us"))}),
        row_group_size=rg)


# The partitioned table the INSERTs overwrite and the read-backs query.
# Each INSERT writes one ship year, so a partition's rows depend only on the
# year: the table is always the union of the years inserted so far.
PART_DDL = ("CREATE TABLE li_by_month (l_orderkey INT8, l_suppkey INT8, "
            "l_returnflag TEXT, rev FLOAT8) USING PARQUET "
            "PARTITION BY COLUMN (ship_month TEXT)")


def insert_sql(year):
    tajo = (f"INSERT OVERWRITE INTO li_by_month SELECT l_orderkey, l_suppkey, l_returnflag, "
            f"l_extendedprice * (1 - l_discount) AS rev, to_char(l_shipdate, 'YYYY-MM') AS ship_month "
            f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00' "
            f"AND l_shipdate < TIMESTAMP '{year}-01-01 00:00:00' + INTERVAL '1 year'")
    duck = (f"SELECT l_orderkey, l_suppkey, l_returnflag, l_extendedprice * (1 - l_discount) AS rev, "
            f"strftime(l_shipdate, '%Y-%m') AS ship_month FROM lineitem "
            f"WHERE l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00' "
            f"AND l_shipdate < TIMESTAMP '{year + 1}-01-01 00:00:00'")
    return tajo, duck


def _select(rng, template, inserted):
    """One SELECT in both spellings. Output columns are BIGINT, DOUBLE
    (aggregated through DECIMAL so the sum is order-independent), strings
    and dates, and every ORDER BY is total, as the DuckDB comparison needs."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    y = int(rng.integers(1995, 2001))
    if template == "q1_pricing":
        d = int(rng.integers(60, 121))
        agg = ("l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS {f}) AS sum_qty, "
               "CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS {f}) AS sum_base, "
               "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS {f}) AS sum_disc, "
               "COUNT(*) AS cnt FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00' - ")
        tail = " GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        return ("SELECT " + agg.format(f="FLOAT8") + f"INTERVAL '{d} days'" + tail,
                "SELECT " + agg.format(f="DOUBLE") + f"INTERVAL {d} DAY" + tail)
    if template == "q3_shipping":
        seg = segs[int(rng.integers(0, 5))]
        day = f"{y}-{int(rng.integers(1, 13)):02d}-15"
        body = ("SELECT l_orderkey, o_orderdate::DATE AS odate, "
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS {f}) AS revenue "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                f"WHERE c_mktsegment = '{seg}' AND o_orderdate < TIMESTAMP '{day} 00:00:00' "
                f"AND l_shipdate > TIMESTAMP '{day} 00:00:00' "
                "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10")
        return body.format(f="FLOAT8"), body.format(f="DOUBLE")
    if template == "q5_local_supplier":
        reg = regions[int(rng.integers(0, 5))]
        body = ("SELECT n_name, CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS {f}) AS revenue "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
                "JOIN nation ON s_nationkey = n_nationkey "
                "JOIN region ON n_regionkey = r_regionkey "
                f"WHERE r_name = '{reg}' AND o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
                "AND o_orderdate < TIMESTAMP '{y}-01-01 00:00:00' + {iv} "
                "GROUP BY n_name ORDER BY revenue DESC, n_name")
        return (body.format(f="FLOAT8", y=y, iv="INTERVAL '1 year'"),
                body.format(f="DOUBLE", y=y, iv="INTERVAL 1 YEAR"))
    if template == "q6_forecast":
        disc = int(rng.integers(2, 10))
        qty = int(rng.integers(24, 26))
        body = ("SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS {f}) AS revenue "
                "FROM {t} WHERE l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00' "
                "AND l_shipdate < TIMESTAMP '{y2}-01-01 00:00:00' "
                f"AND l_discount BETWEEN 0.0{disc - 1} AND 0.0{disc + 1} AND l_quantity < {qty}")
        return (body.format(f="FLOAT8", t='"lineitem"', y=y, y2=y + 1),
                body.format(f="DOUBLE", t="lineitem", y=y, y2=y + 1))
    if template == "window_rank":
        seg = segs[int(rng.integers(0, 5))]
        k = int(rng.integers(2, 6))
        body = ('SELECT c_nationkey, c_custkey, c_acctbal, rnk, running FROM ('
                'SELECT c_nationkey, c_custkey, c_acctbal, '
                'RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk, '
                'CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) OVER (PARTITION BY c_nationkey '
                'ORDER BY c_acctbal DESC, c_custkey) AS {f}) AS running '
                "FROM customer WHERE {seg} = '" + seg + "') t "
                f"WHERE rnk <= {k} ORDER BY c_nationkey, rnk")
        return (body.format(f="FLOAT8", seg='"c_mktsegment"'),
                body.format(f="DOUBLE", seg="c_mktsegment"))
    if template == "grouping_sets":
        # most of the table: keeps this kind among the costly ones, away
        # from the median kind (q14_promo)
        body = ("SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt, "
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS {f}) AS base "
                "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' + {iv} "
                "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) "
                "ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST")
        m = int(rng.integers(1, 13))
        return (body.format(f="FLOAT8", iv=f"INTERVAL '{m} months'"),
                body.format(f="DOUBLE", iv=f"INTERVAL {m} MONTH"))
    if template == "sort_limit":
        st = ["P", "O", "F"][int(rng.integers(0, 3))]
        n = int(rng.integers(10, 51))
        body = ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate::DATE AS odate FROM orders "
                f"WHERE o_orderstatus = '{st}' AND o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
                f"AND o_orderdate < TIMESTAMP '{y + 1}-01-01 00:00:00' "
                f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {n}")
        return body, body
    if template == "q14_promo":
        m = int(rng.integers(1, 13))
        body = ("SELECT CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN "
                "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) ELSE 0 END) AS {f}) AS promo_revenue, "
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS {f}) AS revenue "
                "FROM lineitem JOIN part ON l_partkey = p_partkey "
                f"WHERE l_shipdate >= TIMESTAMP '{y}-{m:02d}-01 00:00:00' "
                f"AND l_shipdate < TIMESTAMP '{y}-{m:02d}-01 00:00:00' + " + "{iv}")
        return (body.format(f="FLOAT8", iv="INTERVAL '1 month'"),
                body.format(f="DOUBLE", iv="INTERVAL 1 MONTH"))
    if template == "readback":
        yr = int(rng.choice(sorted(inserted)))
        m0 = int(rng.integers(1, 10))
        m1 = m0 + int(rng.integers(0, 4))
        lo, hi = f"{yr}-{m0:02d}", f"{yr}-{m1:02d}"
        body = ("SELECT ship_month, l_returnflag, COUNT(*) AS n, "
                "CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS {f}) AS rev FROM {t} "
                f"WHERE ship_month BETWEEN '{lo}' AND '{hi}' "
                "GROUP BY ship_month, l_returnflag ORDER BY ship_month, l_returnflag")
        _, ins = insert_sql(yr)
        return (body.format(f="FLOAT8", t="li_by_month"),
                body.format(f="DOUBLE", t=f"({ins}) li_by_month"))
    raise ValueError(template)


# A round runs q14_promo three times, with its own draws each time, and
# every other SELECT kind once. Four kinds are faster than q14 and four
# slower, so the median of a window of whole rounds falls inside q14's
# samples. With each kind once, the median fell between kinds whose
# latencies overlap, and jumped between them from run to run.
SELECT_TEMPLATES = ["q1_pricing", "q3_shipping", "q5_local_supplier", "q6_forecast",
                    "q14_promo", "q14_promo", "q14_promo", "window_rank", "grouping_sets",
                    "sort_limit"]


def olap(seed, out):
    p = PARAMS["olap"]
    rng = np.random.default_rng([seed, 3])
    _star(rng, p["sf"], f"{out}/tables", p["row_group_rows"])
    # set-up loads one year so read-backs have data from the first op on
    y0 = int(rng.integers(1995, 2002))
    inserted = {y0}
    # rounds of every SELECT template once, in a seeded order, then one
    # INSERT: each run sees the same mix whatever its length
    ops = []
    while len(ops) < p["n_ops"]:
        for t in rng.permutation(SELECT_TEMPLATES + ["readback"]):
            tajo, duck = _select(rng, str(t), inserted)
            ops.append({"kind": "select", "template": str(t), "sql": tajo, "oracle": duck})
        y = int(rng.integers(1995, 2002))
        tajo, duck = insert_sql(y)
        inserted.add(y)
        ops.append({"kind": "insert", "template": "insert_overwrite", "year": y,
                    "sql": tajo, "oracle": duck, "inserted": sorted(inserted)})
    # warm-up: every select template once, on its own draws
    warm = [_select(rng, t, {y0})[0] for t in SELECT_TEMPLATES + ["readback"]]
    with open(f"{out}/ops.json", "w") as f:
        json.dump({"ddl": PART_DDL, "initial_year": y0, "initial_insert": insert_sql(y0)[0],
                   "warmup": warm, "ops": ops}, f)
    return dict(p, initial_year=y0)


GENERATORS = {"olap": olap, "curate": curate, "ingest_search": ingest_search}


def generate(workload, seed, out):
    """Write the workload's inputs for `seed` under `out`; return and record
    the generator parameters."""
    os.makedirs(out, exist_ok=True)
    params = dict(GENERATORS[workload](seed, out), workload=workload, seed=seed)
    with open(f"{out}/params.json", "w") as f:
        json.dump(params, f, indent=1, sort_keys=True)
    return params


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))
