"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship document-pipeline query on sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2
(keys prefixed with the survey row they exercise) plus the
beyond-reference corpus operators (dedup / similarity / text analysis).
``oracle_sql()`` — the DuckDB twin of every entry. Both read one
registry: each ``q_<key>`` function registers itself with
``@query(oracle=SQL)``, or with ``@query(oracle_of=base_key)`` when it
shares another key's SQL (the stream twins).

Column names are aliased identically on both sides; float outputs are
rounded identically on both sides so the order-insensitive value-hash
matches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from pdf_to_vectordb_etl_spark.operators import (
    aggregates,
    dedup,
    joins as joinops,
    sampling,
    textanalysis as ta,
    topk,
)

SENTINEL = "não achou a questão"


# --------------------------------------------------------------------------
# the registry: each ``q_<key>`` below registers itself under ``<key>``
# with its DuckDB twin through ``@query``
# --------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}
_ORACLE_OF: dict[str, str] = {}


def query(oracle: str | None = None, *, oracle_of: str | None = None):
    """Register ``q_<key>`` under ``<key>`` with its DuckDB twin: the SQL
    itself (``oracle``), or the key whose SQL it shares (``oracle_of``,
    the stream twins). Exactly one of the two, so no query goes
    unoracled; a name without the ``q_`` prefix or a key registered
    twice raises before anything is inserted."""
    if (oracle is None) == (oracle_of is None):
        raise TypeError("query() takes exactly one of oracle= and oracle_of=")

    def register(fn):
        if not fn.__name__.startswith("q_"):
            raise ValueError(f"{fn.__name__!r}: query functions are q_<key>")
        key = fn.__name__[2:]
        if key in _QUERIES:
            raise ValueError(f"query {key!r} is registered twice")
        _QUERIES[key] = fn
        if oracle_of is None:
            _ORACLES[key] = oracle
        else:
            _ORACLE_OF[key] = oracle_of
        return fn

    return register


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """An ``oracle_of`` key reads its base key's own SQL; an unknown base
    or an alias of an alias raises KeyError."""
    return {k: _ORACLES[_ORACLE_OF.get(k, k)] for k in _QUERIES}


# the DuckDB text normalisation and word-trigram shingles that the
# dedup and similarity oracles share
_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)),"
    " i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"
)


def _cents(col, scale: int = 100):
    """Exact integer units from a fixed-2-dp-valued double column: the
    stored double is the nearest double to k/100, so floor(x*100+0.5)
    recovers k exactly — the same two IEEE ops in DuckDB. Basis of the
    exact TPC-H revenue aggregates (r8 randfix catch, seed 1786880637:
    round(sum(ext*(1-disc)), 2) is summation-order-dependent, and the
    exact 4-dp sum sits ON a .005 half-up boundary whenever it ends in
    ..50 — a ~1% coin flip per output row on fresh data)."""
    return F.floor(col * scale + F.lit(0.5)).cast("long")


def _rev_e4():
    """Per-row revenue l_extendedprice*(1-l_discount) in EXACT 1e-4
    units: cents(ext) * (100 - cents(disc)). DECIMAL(38,0) so the SUM
    cannot wrap at corpus scale (the per-row product is < 1e9 — the
    cast costs nothing; DuckDB's BIGINT sum widens to HUGEINT on its
    own)."""
    return (
        _cents(F.col("l_extendedprice"))
        * (F.lit(100) - _cents(F.col("l_discount")))
    ).cast("decimal(38,0)")


def _e4_to_2dp(sum_col, unit: int = 100):
    """Half-up 2-dp value from an exact NONNEGATIVE integer sum in
    1/(100*unit)-dollar units: ((s + unit/2) // unit) / 100 — the
    half-up happens ENTIRELY in integer arithmetic (subtract-modulo
    exact DECIMAL floor-division; decimal `/` of an exactly-divisible
    value never rounds, and `div`'s BIGINT result would wrap at huge
    quotients), and only the final integer cents value is cast to
    double. The previous form added the 50 in decimal but divided in
    DOUBLE — which commutes with the oracle's cast-then-add only while
    the sum fits in 53 bits (pricing_summary's charge sum is already
    56% of 2^53 at sf0.1)."""
    h = sum_col + F.lit(unit // 2)
    return (
        ((h - h % F.lit(unit)) / F.lit(unit)).cast("double") / 100.0
    )


# the DuckDB twins of the three helpers above (kept adjacent so the
# two dialects can be eyeballed together)
_REV_E4_SQL = (
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"
)


def _e4_to_2dp_sql(sum_sql: str, unit: int = 100) -> str:
    # HUGEINT floor-division (nonneg => floor == truncate), cast to
    # double only AFTER — the integer half-up mirrors _e4_to_2dp
    # exactly at any magnitude.
    return (
        f"CAST(({sum_sql} + {unit // 2}) // {unit} AS DOUBLE) / 100.0"
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # testdata parquet carries TIMESTAMP(NANOS), which Spark has no type
    # for: read as long (nanos since epoch). Set at runtime so a driver-
    # built session without our session factory still reads every table.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # already set statically / restricted: reads still work
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # testdata generations have shipped ts as TIMESTAMP(NANOS) and
        # TIMESTAMP(MICROS); fold both to bigint nanos (the form every
        # time-math query and its epoch_ns/epoch_us oracle assumes)
        from pdf_to_vectordb_etl_spark.schemas import normalize_event_times

        df = normalize_event_times(df, "ts")
    return df


# --------------------------------------------------------------------------
# entry: flagship — corpus curation summary over the documents table
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Per-language corpus-curation report on sf0.001: doc counts, token
    totals, quality score, fingerprint cardinality (exact-dedup view).

    avg_quality uses the lattice template (commit 4f37a30): per-doc
    floor onto the 1e-6 grid (quality_score carries stopword_ratio*4 —
    a k/n rational, NOT grid-valued, so round(avg) would be summation-
    order-dependent), exact integer sum, ONE half-up integer division
    to the 4-dp output grid (scores are nonnegative, so +n*50 then
    floor-div is exact half-up)."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    scored = ta.quality_score(docs)
    return (
        scored.withColumn("fp", ta.fingerprint_md5(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(ta.token_count(F.col("text"))).alias("n_tokens"),
            F.sum(
                F.floor(F.col("quality_score") * 1e6).cast("long")
            ).alias("_sq_micro"),
            F.countDistinct("fp").alias("n_unique_fp"),
        )
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            (
                F.expr(
                    "(CAST(_sq_micro + 50 * n_docs AS DECIMAL(38,0))"
                    " div (100 * n_docs))"
                ).cast("double")
                / 1e4
            ).alias("avg_quality"),
            "n_unique_fp",
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# queries — Spark side
# --------------------------------------------------------------------------

@query(oracle="""
            SELECT l_orderkey, l_linenumber, l_extendedprice
            FROM lineitem
            WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45
        """)
def q_s1_scan_pruned_projection(spark, sf):
    """S1/S4-class scan: projection + filter pushed to the parquet scan."""
    li = _t(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_shipdate") < "1996-01-01") & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


@query(oracle="""
            SELECT doc_id, n_chars FROM documents WHERE strpos(text, 'merge') > 0
        """)
def q_f1_contains_filter(spark, sf):
    """F1 — keep rows whose text contains a delimiter token."""
    docs = _t(spark, sf, "documents")
    return docs.filter(F.instr(F.col("text"), "merge") > 0).select("doc_id", "n_chars")


@query(oracle="""
            SELECT doc_id, substr(text, strpos(text, 'window')) AS stripped
            FROM documents WHERE strpos(text, 'window') > 0
        """)
def q_f3_header_strip(spark, sf):
    """F3 — slice text from the first token occurrence onward."""
    docs = _t(spark, sf, "documents")
    t = F.col("text")
    return docs.filter(F.instr(t, "window") > 0).select(
        "doc_id", F.expr("substring(text, instr(text, 'window'))").alias("stripped")
    )


@query(oracle=r"""
            SELECT doc_id,
                   substr(regexp_replace(text, '\b(dup|vec)\b', '', 'g'), 1, 120)
                     AS scrubbed
            FROM documents
        """)
def q_f4_regexp_scrub(spark, sf):
    """F4 — scrub pattern tokens from text (barcode-scrub class)."""
    docs = _t(spark, sf, "documents")
    scrub = F.regexp_replace(F.col("text"), r"\b(dup|vec)\b", "")
    return docs.select("doc_id", F.substring(scrub, 1, 120).alias("scrubbed"))


@query(oracle=r"""
            WITH p AS (
              SELECT doc_id,
                     '/corpus/' || CAST(2015 + doc_id % 9 AS VARCHAR) || '/enem_'
                       || CAST(2015 + doc_id % 9 AS VARCHAR) || '_' || lang || '_D'
                       || CAST(1 + doc_id % 2 AS VARCHAR) || '_CD'
                       || CAST(1 + doc_id % 9 AS VARCHAR) || '.pdf' AS path
              FROM documents)
            SELECT doc_id,
                   CAST(regexp_extract(split_part(path, '/', -1), '20\d{2}') AS INT) AS year,
                   regexp_extract(split_part(path, '/', -1), '_(.{3,}?)_', 1) AS token,
                   regexp_extract(split_part(path, '/', -1), 'D[12]') AS day,
                   regexp_extract(split_part(path, '/', -1), 'CD[1-9]') AS color,
                   lower(path) LIKE '%.pdf' AS is_pdf,
                   split_part(path, '/', -1) AS fname
            FROM p
        """)
def q_x_filename_parse(spark, sf):
    """X1/X2/X3/X5/X16 — filename-convention token extraction over a
    derived INEP-style path."""
    docs = _t(spark, sf, "documents")
    year = 2015 + (F.col("doc_id") % 9)
    day = F.concat(F.lit("D"), (1 + F.col("doc_id") % 2).cast("string"))
    color = F.concat(F.lit("CD"), (1 + F.col("doc_id") % 9).cast("string"))
    path = F.concat(
        F.lit("/corpus/"),
        year.cast("string"),
        F.lit("/enem_"),
        year.cast("string"),
        F.lit("_"),
        F.col("lang"),
        F.lit("_"),
        day,
        F.lit("_"),
        color,
        F.lit(".pdf"),
    )
    tail = F.element_at(F.split(path, "/"), -1)
    return docs.select(
        "doc_id",
        F.regexp_extract(tail, r"20\d{2}", 0).cast("int").alias("year"),
        F.regexp_extract(tail, r"_(.{3,}?)_", 1).alias("token"),
        F.regexp_extract(tail, r"D[12]", 0).alias("day"),
        F.regexp_extract(tail, r"CD[1-9]", 0).alias("color"),
        F.lower(path).endswith(".pdf").alias("is_pdf"),
        tail.alias("fname"),
    )


@query(oracle="""
            SELECT doc_id,
                   '(Enem/' || CAST(2015 + doc_id % 9 AS VARCHAR) || ')  '
                     || substr(text, 1, 40) || chr(10) || '(RESPOSTA CORRETA): '
                     || substr(upper(lang), 1, 1) || chr(10) || chr(10) AS txt,
                   CAST(2015 + doc_id % 9 AS VARCHAR) || '_D1_N' || CAST(doc_id AS VARCHAR) AS ID
            FROM documents
        """)
def q_x13_txt_template(spark, sf):
    """X13/X14 — TXT record templating + ID templating."""
    docs = _t(spark, sf, "documents")
    year = (2015 + (F.col("doc_id") % 9)).cast("string")
    ans = F.substring(F.upper(F.col("lang")), 1, 1)
    txt = F.concat(
        F.lit("(Enem/"), year, F.lit(")  "),
        F.substring("text", 1, 40),
        F.lit("\n(RESPOSTA CORRETA): "), ans, F.lit("\n\n"),
    )
    qid = F.concat(year, F.lit("_D1_N"), F.col("doc_id").cast("string"))
    return docs.select("doc_id", txt.alias("txt"), qid.alias("ID"))


@query(oracle="""
            SELECT l_orderkey, o_orderpriority,
                   CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100.0 AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
              AND l.l_shipdate > TIMESTAMP '1997-01-01'
            GROUP BY l_orderkey, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """)
def q_star_shipping_priority(spark, sf):
    """Beyond-reference star-schema analytics (TPC-H Q3 class): 3-way
    join with date predicates, grouped revenue, deterministic top-10.

    No broadcast hints on orders/customer: both are fact-scale tables
    (tens of GB at 100x), so a forced broadcast would OOM the
    executors. AQE picks broadcast at small SF on its own and falls
    back to shuffled hash join at scale — that is the plan we want."""
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1997-01-01")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    j = li.join(
        orders.join(cust, orders.o_custkey == cust.c_custkey),
        li.l_orderkey == orders.o_orderkey,
    )
    return (
        j.groupBy("l_orderkey", "o_orderpriority")
        .agg(
            _e4_to_2dp(F.sum(_rev_e4())).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


@query(oracle="""
            SELECT n_name,
                   CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100.0 AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
                         AND s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY n_name
        """)
def q_star_region_volume(spark, sf):
    """Beyond-reference (TPC-H Q5 class): 6-table snowflake join —
    region -> nation -> customer/supplier co-location -> orders ->
    lineitem — grouped revenue per nation.

    Broadcast hints only on the genuinely bounded dims (region: 5 rows,
    nation: 25 rows — their join is <=25 rows at any SF).
    orders/customer/supplier all grow linearly with SF — no hints; AQE
    broadcasts them at small SF and shuffle-joins at scale instead of
    OOMing a forced broadcast."""
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    sup = _t(spark, sf, "supplier")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf, "lineitem")
    nr = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(
            F.broadcast(nr),
            (cust.c_nationkey == nr.n_nationkey) & (sup.s_nationkey == nr.n_nationkey),
        )
    )
    return j.groupBy("n_name").agg(
        _e4_to_2dp(F.sum(_rev_e4())).alias("revenue")
    )


@query(oracle="""
            SELECT CASE WHEN json_valid(props)
                        THEN CAST(json_extract_string(props, '$.k') AS INT)
                   END % 10 AS k_mod,
                   count(*) AS n
            FROM events GROUP BY 1
        """)
def q_json_props_extract(spark, sf):
    """JSON field extraction from the events props column (engine JSON
    read path; reference only ever serializes JSON, N1)."""
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"))
    )


@query(oracle=r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '\b[a-e]\b')) AS n_primary,
                   len(regexp_extract_all(text, '\b\w{2}\s{2,}')) AS n_fallback,
                   len(regexp_extract_all(text, '\b[a-e]\b')) >= 5
                     OR len(regexp_extract_all(text, '\b\w{2}\s{2,}')) >= 5
                     AS well_formed
            FROM documents
        """)
def q_x7_subn_count(spark, sf):
    """X7 — substitution-count semantics (reference re.subn at
    enem_pdf_extractor.py:116-137: fewer than 5 marker fixes => the
    question is malformed). Native regexp_count replaces the U2 UDF."""
    docs = _t(spark, sf, "documents")
    n1 = F.regexp_count(F.col("text"), F.lit(r"\b[a-e]\b"))
    n2 = F.regexp_count(F.col("text"), F.lit(r"\b\w{2}\s{2,}"))
    return docs.select(
        "doc_id",
        n1.alias("n_primary"),
        n2.alias("n_fallback"),
        ((n1 >= 5) | (n2 >= 5)).alias("well_formed"),  # cascade: :129-134
    )


@query(oracle="""
            SELECT doc_id,
                   regexp_replace(substr(text, 1, 3) || chr(10)
                                  || substr(text, 10, 20) || chr(10)
                                  || substr(text, 40, 2),
                                  '(?m)^.{5,}$', '', 'g') AS scrubbed
            FROM (SELECT * REPLACE (regexp_replace(
                      coalesce(text, ''), '\\r\\n?', chr(10), 'g') AS text)
                    FROM documents) documents
        """)
def q_x17_multiline_scrub(spark, sf):
    """X17/F7 — multiline-anchored scrub: blank out lines longer than 4
    chars (the reference's answer-key line filter,
    enem_pdf_extractor.py:963-964), applied to a derived 3-line text.
    Line endings are canonicalized first: Java's `.` excludes \\r but
    RE2's matches it (and (?m)$ anchors differ the same way), so any
    \\r reaching the scrub splits the engines (degenerate CRLF row)."""
    docs = _t(spark, sf, "documents").withColumn(
        "text",
        F.regexp_replace(F.coalesce("text", F.lit("")), "\r\n?", "\n"),
    )
    three = F.concat_ws(
        "\n",
        F.substring("text", 1, 3),
        F.substring("text", 10, 20),
        F.substring("text", 40, 2),
    )
    return docs.select(
        "doc_id",
        F.regexp_replace(three, r"(?m)^.{5,}$", "").alias("scrubbed"),
    )


@query(oracle="""
            WITH p AS (SELECT doc_id, string_split(text, ' data ') AS parts
                       FROM documents),
            u AS (SELECT doc_id, unnest(parts) AS seg,
                         unnest(generate_series(1, len(parts))) AS i
                  FROM p)
            SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                   substr(seg, 1, 40) AS seg40
            FROM u WHERE i > 1
        """)
def q_x10_segmentation(spark, sf):
    """X10/X12/F8 — delimiter segmentation via posexplode: slice text on
    a token, keep ordinal positions, drop the leading pre-match segment
    (reference's find-loop + first-match skip,
    enem_pdf_extractor.py:179-186,:434-435)."""
    docs = _t(spark, sf, "documents")
    parts = F.split(F.col("text"), " data ")
    return (
        docs.select("doc_id", F.posexplode(parts).alias("pos", "seg"))
        .filter(F.col("pos") > 0)  # F8: skip the segment before the first match
        .select("doc_id", "pos", F.substring("seg", 1, 40).alias("seg40"))
    )


# Ground-truth twin of the flagship: the synthetic corpus is a
# pure function of (year, day, internal question number), so the
# emitted question rows are re-derived here with closed-form
# arithmetic — page layout (5 questions/page, essay page at
# every 9th index), image-page drop, malformed drop, shared
# D1 printed slots, subject ranges, and the deterministic
# answer-key letter with its missing-slot NULLs — with no
# dependency on the parse pipeline under test.
@query(oracle="""
            WITH params AS (
              SELECT y.year, d.day,
                     CASE WHEN d.day = 'D1' THEN 95 ELSE 91 END AS max_i,
                     CASE WHEN d.day = 'D1' THEN 1 ELSE 2 END AS dnum
              FROM (VALUES (2022), (2023)) y(year)
              CROSS JOIN (VALUES ('D1'), ('D2')) d(day)),
            q AS (
              SELECT year, day, dnum, i AS internal,
                     CASE WHEN day = 'D1' AND i > 5 THEN i - 5
                          WHEN day = 'D1' THEN i
                          ELSE i + 90 END AS num,
                     CAST(ceil(i / 5.0) AS INT) AS c
              FROM params
              CROSS JOIN (SELECT unnest(generate_series(1, 95)) AS i) s
              WHERE i <= max_i),
            q2 AS (SELECT *, c + (c - 1) // 8 AS page_idx FROM q),
            emitted AS (
              SELECT * FROM q2
              WHERE (internal * 31 + year) % 23 <> 0
                AND (page_idx + year + dnum) % 7 <> 0)
            SELECT year || '_' || day || '_N' || num AS ID,
                   CAST(year AS INT) AS year, day,
                   CASE WHEN day = 'D2' AND internal <= 45 THEN 'natu'
                        WHEN day = 'D2' THEN 'math'
                        WHEN internal <= 5 THEN 'eng'
                        WHEN internal <= 10 THEN 'spani'
                        WHEN internal <= 50 THEN 'lang'
                        ELSE 'huma' END AS subject,
                   CAST(num AS INT) AS question_num,
                   CASE WHEN (num * 13 + year) % 29 = 0 THEN NULL
                        ELSE substr('ABCDE', (num * 7 + year * 3 + dnum) % 5 + 1, 1)
                        END AS correct_answer
            FROM emitted
            ORDER BY year, day, question_num, subject
        """)
def q_enem_questions(spark, sf):
    """E2E flagship of the reference lifecycle (SURVEY §3.1): synthetic
    page corpus -> preprocess -> number -> segment -> parse alternatives
    -> answer-key broadcast join -> subject range bucketing. The corpus
    is a pure function of (year, day, question number), so the oracle
    re-derives every output row with closed-form SQL arithmetic — a
    ground-truth twin fully independent of the parse pipeline."""
    from pdf_to_vectordb_etl_spark.plans import etl
    from pdf_to_vectordb_etl_spark.sources import synthetic

    corpus = synthetic.corpus_df(spark)
    qs = etl.extract_questions(corpus)
    return qs.select(
        "ID", "year", "day", "subject", "question_num", "correct_answer"
    ).orderBy("year", "day", "question_num", "subject")


@query(oracle="""
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """)
def q_j1_anti_orphans(spark, sf):
    """J1 — all-or-nothing pairing: left side rows with no partner."""
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    return cust.join(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_anti",
    ).select("c_custkey", "c_name")


@query(oracle=f"""
            SELECT l_orderkey, l_linenumber,
                   coalesce(p.p_brand, '{SENTINEL}') AS brand
            FROM lineitem l
            LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size >= 26) p
              ON l.l_partkey = p.p_partkey
        """)
def q_j2_broadcast_sentinel(spark, sf):
    """J2 — broadcast left lookup with miss-sentinel (reference
    enem_pdf_extractor.py:210 models misses as a sentinel string)."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_size") >= 26)
    joined = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == part.p_partkey,
        "left",
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce("p_brand", F.lit(SENTINEL)).alias("brand"),
    )


@query(oracle="""
            WITH dim(bucket, lo, hi) AS (
              VALUES ('low', 0.0, 100.0), ('mid', 100.0, 250.0), ('high', 250.0, 500.0))
            SELECT bucket, count(*) AS n
            FROM events e JOIN dim d ON e.value >= d.lo AND e.value < d.hi
            GROUP BY bucket ORDER BY bucket
        """)
def q_j3_range_bucket_join(spark, sf):
    """J3 — broadcast range join against a small bucket dim."""
    # local fixtures are one row group => one scan task; spreading the
    # probe side parallelizes the nested-loop (no-op on a real multi-
    # split scan, where partitions >> cores already)
    ev = _t(spark, sf, "events").repartition(spark.sparkContext.defaultParallelism)
    dim = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 250.0), ("high", 250.0, 500.0)],
        "bucket string, lo double, hi double",
    )
    j = ev.join(
        F.broadcast(dim),
        (ev.value >= dim.lo) & (ev.value < dim.hi),
        "inner",
    )
    return j.groupBy("bucket").agg(F.count("*").alias("n")).orderBy("bucket")


@query(oracle="""
            WITH e AS (
              SELECT CASE WHEN user_id % 200 > 5 THEN user_id % 200 - 5
                          ELSE user_id % 200 END + 1 AS ckey
              FROM events)
            SELECT c_mktsegment, count(*) AS n
            FROM e JOIN customer c ON e.ckey = c.c_custkey
            GROUP BY c_mktsegment
        """)
def q_j4_derived_key_join(spark, sf):
    """J4 — join on a remapped derived key (shared-slot remap class)."""
    ev = _t(spark, sf, "events")
    slot = F.col("user_id") % 200
    ckey = (F.when(slot > 5, slot - 5).otherwise(slot) + 1).cast("long")
    cust = _t(spark, sf, "customer")
    j = ev.withColumn("ckey", ckey).join(
        F.broadcast(cust.select(F.col("c_custkey").alias("ckey"), "c_mktsegment")),
        "ckey",
    )
    return j.groupBy("c_mktsegment").agg(F.count("*").alias("n"))


@query(oracle="""
            SELECT event_id, user_id,
                   CAST(coalesce(sum(CAST(floor(value) AS BIGINT)) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
                     AS BIGINT) AS running_before_plus1
            FROM events
            ORDER BY user_id, event_id
        """)
def q_w1_running_sum(spark, sf):
    """W1 — running pre-total per partition (page_first_question class)."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    amount = F.floor("value").cast("long")
    return ev.select(
        "event_id",
        "user_id",
        (F.coalesce(F.sum(amount).over(w), F.lit(0)) + 1)
        .cast("long")
        .alias("running_before_plus1"),
    ).orderBy("user_id", "event_id")


@query(oracle="""
            SELECT event_id, user_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
            FROM events
        """)
def q_w2_row_number(spark, sf):
    """W2 — per-partition sequence numbers in event order."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select("event_id", "user_id", F.row_number().over(w).alias("seq"))


@query(oracle="""
            SELECT vec_id, row_number() OVER (ORDER BY vec_id) + 166 AS id
            FROM embeddings
        """)
def q_w3_sequential_ids(spark, sf):
    """W3 compat — sink-count-continuation IDs: global row_number + offset
    (reference qdrant_text_loader.py:189,:276). Single-partition window —
    compat mode only; native mode uses xxhash64 (see dedup/minhash ops)."""
    from pyspark.sql import Window

    emb = _t(spark, sf, "embeddings")
    w = Window.orderBy("vec_id")
    return emb.select(
        "vec_id", (F.row_number().over(w) + 167 - 1).alias("id")
    )


@query(oracle="""
            SELECT event_id, user_id,
                   coalesce(lead(event_type) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id), '<last>') AS next_type
            FROM events
        """)
def q_w4_lead_chunks(spark, sf):
    """W4 — next-boundary lookahead (chunk-window class)."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(F.lead("event_type").over(w), F.lit("<last>")).alias("next_type"),
    )


@query(oracle="""
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty,
                   CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100.0 AS revenue
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """)
def q_a1_groupby_agg(spark, sf):
    """A1/A3 — grouped counts + sums (per-page question-count class)."""
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _e4_to_2dp(F.sum(_rev_e4())).alias("revenue"),
        )
    )


@query(oracle="""
            SELECT lang,
                   md5(string_agg(substr(text, 1, 20), '' ORDER BY doc_id)) AS content_md5
            FROM documents GROUP BY lang
        """)
def q_a2_ordered_concat(spark, sf):
    """A2 — order-sensitive group concatenation (md5 to keep rows small).
    Must concatenate in doc_id order regardless of shuffle placement."""
    docs = _t(spark, sf, "documents")
    keyed = F.struct(F.col("doc_id").alias("k"), F.substring("text", 1, 20).alias("t"))
    return (
        docs.groupBy("lang")
        .agg(F.sort_array(F.collect_list(keyed)).alias("parts"))
        .select(
            "lang",
            F.md5(F.array_join(F.transform("parts", lambda s: s["t"]), "")).alias(
                "content_md5"
            ),
        )
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(oracle="""
            SELECT user_id % 10 AS cohort,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'error') AS error,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'view') AS view
            FROM events GROUP BY user_id % 10
        """)
def q_a4_pivot(spark, sf):
    """A4 — pivoted count table (stats-CSV shape). Explicit pivot values
    keep it a single pass (no values-discovery job)."""
    ev = _t(spark, sf, "events")
    p = (
        ev.withColumn("cohort", (F.col("user_id") % 10).cast("long"))
        .groupBy("cohort")
        .pivot("event_type", EVENT_TYPES)
        .count()
    )
    return p.select(
        "cohort", *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in EVENT_TYPES]
    )


# Shared closed-form re-derivation of the synthetic enem corpus
# (same CTE chain as enem_questions) -> long-form A3 stats.
@query(oracle="""
            WITH params AS (
              SELECT y.year, d.day,
                     CASE WHEN d.day = 'D1' THEN 95 ELSE 91 END AS max_i,
                     CASE WHEN d.day = 'D1' THEN 1 ELSE 2 END AS dnum
              FROM (VALUES (2022), (2023)) y(year)
              CROSS JOIN (VALUES ('D1'), ('D2')) d(day)),
            q AS (
              SELECT year, day, dnum, i AS internal,
                     CASE WHEN day = 'D1' AND i > 5 THEN i - 5
                          WHEN day = 'D1' THEN i
                          ELSE i + 90 END AS num,
                     CAST(ceil(i / 5.0) AS INT) AS c
              FROM params
              CROSS JOIN (SELECT unnest(generate_series(1, 95)) AS i) s
              WHERE i <= max_i),
            q2 AS (SELECT *, c + (c - 1) // 8 AS page_idx FROM q),
            emitted AS (
              SELECT * FROM q2
              WHERE (internal * 31 + year) % 23 <> 0
                AND (page_idx + year + dnum) % 7 <> 0),
            rows_ AS (
              SELECT CAST(year AS INT) AS year,
                     CASE WHEN day = 'D2' AND internal <= 45 THEN 'natu'
                          WHEN day = 'D2' THEN 'math'
                          WHEN internal <= 5 THEN 'eng'
                          WHEN internal <= 10 THEN 'spani'
                          WHEN internal <= 50 THEN 'lang'
                          ELSE 'huma' END AS subject,
                     CASE WHEN (num * 13 + year) % 29 = 0 THEN NULL
                          ELSE 'x' END AS ca
              FROM emitted)
            SELECT year, subject, 'todas_questoes' AS kind,
                   CAST(count(*) AS BIGINT) AS n
            FROM rows_ GROUP BY year, subject
            UNION ALL
            SELECT year, subject, 'questoes_add' AS kind,
                   CAST(count(*) AS BIGINT) AS n
            FROM rows_ WHERE ca IS NOT NULL GROUP BY year, subject
        """)
def q_a3_extraction_stats(spark, sf):
    """A3 — the tried-vs-inserted long-form stats table (reference
    qdrant_text_loader.py:301-308) over the synthetic enem corpus:
    kind 'todas_questoes' counts every extracted question per
    (year, subject); 'questoes_add' counts the subset that carries a
    real answer (the rows the vector load inserts). The corpus is a
    pure function of (year, day, number), so the oracle re-derives
    both halves with closed-form SQL — the same ground-truth twin as
    enem_questions."""
    from pdf_to_vectordb_etl_spark.operators import aggregates
    from pdf_to_vectordb_etl_spark.plans import etl
    from pdf_to_vectordb_etl_spark.sources import synthetic

    qs = etl.extract_questions(synthetic.corpus_df(spark))
    expected = aggregates.question_counts(qs)
    inserted = aggregates.question_counts(
        qs.filter(F.col("correct_answer").isNotNull())
    )
    return aggregates.extraction_stats(expected, inserted)


# The same stats pivoted to the CSV sink shape (max(CASE) pivot
# == Spark's first-over-single-value; absent combos NULL).
@query(oracle="""
            WITH params AS (
              SELECT y.year, d.day,
                     CASE WHEN d.day = 'D1' THEN 95 ELSE 91 END AS max_i,
                     CASE WHEN d.day = 'D1' THEN 1 ELSE 2 END AS dnum
              FROM (VALUES (2022), (2023)) y(year)
              CROSS JOIN (VALUES ('D1'), ('D2')) d(day)),
            q AS (
              SELECT year, day, dnum, i AS internal,
                     CASE WHEN day = 'D1' AND i > 5 THEN i - 5
                          WHEN day = 'D1' THEN i
                          ELSE i + 90 END AS num,
                     CAST(ceil(i / 5.0) AS INT) AS c
              FROM params
              CROSS JOIN (SELECT unnest(generate_series(1, 95)) AS i) s
              WHERE i <= max_i),
            q2 AS (SELECT *, c + (c - 1) // 8 AS page_idx FROM q),
            emitted AS (
              SELECT * FROM q2
              WHERE (internal * 31 + year) % 23 <> 0
                AND (page_idx + year + dnum) % 7 <> 0),
            rows_ AS (
              SELECT CAST(year AS INT) AS year,
                     CASE WHEN day = 'D2' AND internal <= 45 THEN 'natu'
                          WHEN day = 'D2' THEN 'math'
                          WHEN internal <= 5 THEN 'eng'
                          WHEN internal <= 10 THEN 'spani'
                          WHEN internal <= 50 THEN 'lang'
                          ELSE 'huma' END AS subject,
                     CASE WHEN (num * 13 + year) % 29 = 0 THEN NULL
                          ELSE 'x' END AS ca
              FROM emitted),
            st AS (
              SELECT year, subject, 'todas_questoes' AS kind,
                     CAST(count(*) AS BIGINT) AS n
              FROM rows_ GROUP BY year, subject
              UNION ALL
              SELECT year, subject, 'questoes_add' AS kind,
                     CAST(count(*) AS BIGINT) AS n
              FROM rows_ WHERE ca IS NOT NULL GROUP BY year, subject)
            SELECT year, kind,
                   max(CASE WHEN subject = 'eng' THEN n END) AS eng,
                   max(CASE WHEN subject = 'lang' THEN n END) AS lang,
                   max(CASE WHEN subject = 'spani' THEN n END) AS spani,
                   max(CASE WHEN subject = 'natu' THEN n END) AS natu,
                   max(CASE WHEN subject = 'math' THEN n END) AS math,
                   max(CASE WHEN subject = 'huma' THEN n END) AS huma
            FROM st GROUP BY year, kind
        """)
def q_o7_stats_csv_roundtrip(spark, sf):
    """O7 — the stats-CSV SINK content itself under the correctness
    gate: pivot the A3 long-form stats, write through
    sinks.write_stats_csv (one header CSV file), read the file back
    with an explicit schema, and hash-compare against the oracle's
    SQL pivot. Pins that what lands on disk — not just the pre-sink
    DataFrame — matches the reference CSV shape."""
    import tempfile

    from pdf_to_vectordb_etl_spark import sinks
    from pdf_to_vectordb_etl_spark.operators import aggregates
    from pdf_to_vectordb_etl_spark.plans import etl
    from pdf_to_vectordb_etl_spark.sources import synthetic

    qs = etl.extract_questions(synthetic.corpus_df(spark))
    stats = aggregates.extraction_stats(
        aggregates.question_counts(qs),
        aggregates.question_counts(
            qs.filter(F.col("correct_answer").isNotNull())
        ),
    )
    schema = (
        "year INT, kind STRING, eng BIGINT, lang BIGINT, spani BIGINT, "
        "natu BIGINT, math BIGINT, huma BIGINT"
    )
    # materialised before the directory is removed
    with tempfile.TemporaryDirectory(prefix="o7_stats_csv_") as path:
        sinks.write_stats_csv(stats, path)
        return (
            spark.read.schema(schema).option("header", True).csv(path)
        ).localCheckpoint(eager=True)


@query(oracle="""
            SELECT count(*) AS n_pdfs, count(*) >= 2 AS enough,
                   count(*) % 2 = 0 AS even
            FROM documents
        """)
def q_a5_parity_check(spark, sf):
    """A5 — corpus cardinality + parity flags."""
    docs = _t(spark, sf, "documents")
    return aggregates.folder_parity_check(docs).select(
        "n_pdfs", "enough", "even"
    )


@query(oracle="""
            WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT q.qid, e.vec_id,
                     list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS s
              FROM embeddings e, q WHERE e.vec_id > 0)
            SELECT qid, vec_id, round(s, 4) AS sim,
                   CAST(row_number() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS INT)
                     AS rank
            FROM scored
            QUALIFY rank <= 5
        """)
def q_k1_topk_cosine(spark, sf):
    """K1 — top-5 cosine neighbours of one query vector (brute force:
    TakeOrderedAndProject, no full sort)."""
    emb = _t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
    )
    corpus = emb.filter(F.col("vec_id") > 0)
    out = topk.topk_cosine_join(
        corpus, queries, k=5, corpus_vec="embedding", corpus_id="vec_id"
    )
    return out.select(
        "qid", "vec_id", F.round("cosine_sim", 4).alias("sim"), "rank"
    )


@query(oracle="""
            SELECT count(*) AS n_valid FROM embeddings WHERE len(embedding) = 64
        """)
def q_k2_dim_guard(spark, sf):
    """K2 — dimensionality guard: count conforming vectors."""
    emb = _t(spark, sf, "embeddings")
    return topk.dim_guard(emb, "embedding", 64).agg(F.count("*").alias("n_valid"))


@query(oracle="""
            SELECT doc_id, strpos(text, 'data') AS first_pos
            FROM documents WHERE strpos(text, 'data') > 0
        """)
def q_k3_first_match(spark, sf):
    """K3 — first-occurrence position of a token (the reference's
    ``text.find("QUESTÃO")`` first-match, enem_pdf_extractor.py:238)."""
    docs = _t(spark, sf, "documents")
    pos = F.instr(F.col("text"), "data")
    return docs.select("doc_id", pos.alias("first_pos")).filter(
        F.col("first_pos") > 0
    )


@query(oracle=f"""
            SELECT sha256({_NORM}) AS digest, min(doc_id) AS canonical_id,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        """)
def q_dedup_exact(spark, sf):
    """Exact dedup: content-digest groups with canonical id."""
    docs = _t(spark, sf, "documents")
    return dedup.exact_duplicates(docs, "text", "doc_id")


@query(oracle=f"""
            WITH sh AS (
              SELECT doc_id, {_SHINGLES} AS shingles
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)),
            ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)) AS j
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.5
        """)
def q_dedup_ngram_jaccard(spark, sf):
    """Near-dup pairs by 3-gram Jaccard >= 0.5 (inverted-index join)."""
    docs = _t(spark, sf, "documents")
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(oracle="""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                     CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                    CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
        """)
def q_dedup_embedding_cosine(spark, sf):
    """Embedding near-dup pairs: cosine >= 0.45 (BLAS block-matmul
    kernel; broadcast comparison matrix, pairs never materialized)."""
    emb = _t(spark, sf, "embeddings")
    out = dedup.embedding_near_duplicates_blas(emb, threshold=0.45)
    return out.select("id_a", "id_b", F.round("cosine_sim", 4).alias("sim"))


@query(oracle="""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(
                     CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(
                    CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
        """)
def q_dedup_embedding_blocked(spark, sf):
    """Embedding near-dup pairs via the BLOCKED executor-side matmul
    (all-pairs block join; nothing on the driver) — the scale path past
    the blas variant's broadcast guard. Same exact answer."""
    emb = _t(spark, sf, "embeddings")
    out = dedup.embedding_near_duplicates_blocked(emb, threshold=0.45, n_blocks=6)
    return out.select("id_a", "id_b", F.round("cosine_sim", 4).alias("sim"))


@query(oracle="""
            SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
                   epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """)
def q_asof_click_view(spark, sf):
    """As-of join: each click picks up the user's most recent view at or
    before it (merge-based, one shuffle — see joins.asof_join)."""
    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    out = joinops.asof_join(clicks, views, on="ts", by=["user_id"])
    # gap at microsecond grain: DuckDB timestamps are µs, Spark carries
    # the parquet nanos — truncate each side before differencing
    gap_us = F.expr("(ts div 1000) - (r_ts div 1000)")
    return out.select(
        "user_id",
        "click_id",
        F.col("r_view_id").alias("view_id"),
        gap_us.alias("gap_us"),
    )


@query(oracle="""
            WITH b AS (
              SELECT lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
              FROM documents)
            SELECT CASE WHEN h < 'cccd' THEN 'train'
                        WHEN h < 'e666' THEN 'val'
                        ELSE 'test' END AS split,
                   lang, count(*) AS n_docs
            FROM b GROUP BY 1, 2
        """)
def q_sample_split(spark, sf):
    """Deterministic train/val/test split (md5 id-hash buckets) — stable
    under any partitioning; per-(split, lang) counts."""
    docs = _t(spark, sf, "documents")
    out = sampling.deterministic_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split", "lang").agg(F.count("*").alias("n_docs"))


@query(oracle="""
            SELECT source, count(*) AS n, min(doc_id) AS min_id
            FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
            GROUP BY source
        """)
def q_sample_fraction(spark, sf):
    """Deterministic 25% corpus sample — same ids survive every run."""
    docs = _t(spark, sf, "documents")
    s = sampling.deterministic_sample(docs, 0.25)
    return s.groupBy("source").agg(
        F.count("*").alias("n"), F.min("doc_id").alias("min_id")
    )


@query(oracle="""
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
            m AS (
              SELECT user_id, event_id, tus,
                     CASE WHEN lag(tus) OVER w IS NULL
                            OR tus - lag(tus) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
            s AS (
              SELECT user_id, tus,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
              FROM m)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   count(*) AS n_events,
                   CAST(max(tus) - min(tus) AS BIGINT) AS span_us
            FROM s GROUP BY 1, 2
            ORDER BY user_id, session_id
        """)
def q_sessionize_batch(spark, sf):
    """Gap-based sessions (30-min inactivity) per user over events —
    batch islands formulation (one shuffle; see aggregates.sessionize_gaps)."""
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("tus")
    )
    s = aggregates.sessionize_gaps(
        ev, time_col="tus", by="user_id", gap=1_800_000_000,
        order_cols=["tus", "event_id"],
    )
    return (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("tus") - F.min("tus")).cast("long").alias("span_us"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "n_events",
            "span_us",
        )
        .orderBy("user_id", "session_id")
    )


@query(oracle="""
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95,
                   floor(CAST(sum(CASE WHEN NOT isnan(value)
                               THEN CAST(floor(value * 100 + 0.5)
                                         AS BIGINT) END) AS DOUBLE) * 100
                         / count(CASE WHEN NOT isnan(value)
                                 THEN 1 END)) / 1e4 + 0.0 AS mean
            FROM events GROUP BY event_type
        """)
def q_stats_quantiles(spark, sf):
    """Exact percentiles (median / p95) of event value per type —
    linear-interpolation semantics shared with DuckDB quantile_cont."""
    ev = _t(spark, sf, "events")
    # mean from exact cents (r9 port — events.value sits on a 2-dp
    # grid, so round(avg) lands ON 4-dp half-up boundaries at real
    # rates and is summation-order-dependent); NaN drops on both sides
    q = F.when(
        ~F.isnan(F.col("value")), F.floor(F.col("value") * 100 + F.lit(0.5))
    ).cast("long")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        (
            F.floor(F.sum(q).cast("double") * 100 / F.count(q)) / 1e4
            + 0.0
        ).alias("mean"),
    )


@query(oracle="""
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty,
                   CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100.0 AS revenue
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """)
def q_rollup_revenue(spark, sf):
    """ROLLUP aggregation over lineitem (subtotals + grand total) —
    grouping-set surface beyond the reference's plain group-bys."""
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _e4_to_2dp(F.sum(_rev_e4())).alias("revenue"),
        )
    )


@query(oracle=r"""
            WITH p AS (
              SELECT doc_id, lang, n_chars,
                     regexp_replace(substr(text, 1, 40),
                                    '[^\x00-\x7f]', '?', 'g') AS p
              FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   levenshtein(a.p, b.p) AS lev
            FROM p a
            JOIN p b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
             AND abs(a.n_chars - b.n_chars) <= 20
            WHERE levenshtein(a.p, b.p) <= 8
        """)
def q_fuzzy_levenshtein(spark, sf):
    """Fuzzy near-dup candidate pairs: same lang, |len diff| <= 20, edit
    distance of the 40-char prefix <= 8 — blocked self-join (lang +
    length band prunes the quadratic pair space before the O(k^2)
    levenshtein kernel runs).

    Non-ASCII codepoints project to '?' BEFORE the distance: Spark's
    levenshtein counts codepoints while DuckDB's counts BYTES, so a
    multi-byte character would score differently per engine; on the
    ASCII projection byte == codepoint and the engines agree (each
    non-ASCII char still costs one edit, the right blocking
    semantics)."""
    docs = _t(spark, sf, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.regexp_replace(
            F.substring("text", 1, 40), r"[^\x00-\x7f]", "?"
        ).alias("p"),
    )
    a = d.select(
        F.col("doc_id").alias("id_a"), "lang",
        F.col("n_chars").alias("ca"), F.col("p").alias("pa"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"), "lang",
        F.col("n_chars").alias("cb"), F.col("p").alias("pb"),
    )
    return (
        a.join(b, "lang")
        .filter((F.col("id_a") < F.col("id_b")) & (F.abs(F.col("ca") - F.col("cb")) <= 20))
        .withColumn("lev", F.levenshtein("pa", "pb"))
        .filter(F.col("lev") <= 8)
        .select("id_a", "id_b", "lev")
    )


@query(oracle="""
            SELECT source, count(*) AS n
            FROM (
              SELECT source, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
              FROM documents)
            WHERE h < CASE source WHEN 'src0' THEN '8000'
                                  WHEN 'src1' THEN '4000'
                                  WHEN 'src2' THEN '0000'
                                  ELSE 'g' END
            GROUP BY source
        """)
def q_sample_stratified(spark, sf):
    """Corpus-mix re-weighting: per-source deterministic rates (50% of
    src0, 25% of src1, drop src2, keep the rest)."""
    docs = _t(spark, sf, "documents")
    s = sampling.stratified_sample(
        docs, {"src0": 0.5, "src1": 0.25, "src2": 0.0}, default_rate=1.0
    )
    return s.groupBy("source").agg(F.count("*").alias("n"))


@query(oracle="""
            SELECT 'doc_id' AS column, count(*) - count(doc_id) AS n_nulls,
                   count(DISTINCT doc_id) AS n_distinct,
                   CAST(min(doc_id) AS VARCHAR) AS min_v,
                   CAST(max(doc_id) AS VARCHAR) AS max_v
            FROM documents
            UNION ALL
            SELECT 'lang', count(*) - count(lang), count(DISTINCT lang),
                   CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'source', count(*) - count(source), count(DISTINCT source),
                   CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
            FROM documents
            UNION ALL
            SELECT 'n_chars', count(*) - count(n_chars), count(DISTINCT n_chars),
                   CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
            FROM documents
        """)
def q_profile_documents(spark, sf):
    """Single-pass column profile of the documents table (null counts,
    exact cardinalities, native-typed min/max)."""
    from pdf_to_vectordb_etl_spark.operators import profiling

    docs = _t(spark, sf, "documents")
    return profiling.profile(docs, ["doc_id", "lang", "source", "n_chars"])


# The exact sides of the sketch error contract; TRUE literals
# assert the Spark-side sketches landed inside their envelopes.
@query(oracle="""
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   true AS hll_within_5pct,
                   true AS p50_within_rank_2pct
            FROM events GROUP BY event_type
        """)
def q_approx_sketches(spark, sf):
    """HLL distinct + KLL-style quantile sketches per event type —
    bounded-state versions of the exact aggregates for 100 TB-scale
    cardinalities. Approximate by design, so the driver-checked output
    is the derived error contract, not the raw estimates: exact
    cardinality (anchors the row) plus booleans asserting the HLL
    estimate lands within its 5% envelope and the approximate median
    lands at rank 48-52% of the distribution. The oracle computes the
    exact sides and literal TRUEs — a hash match proves the sketches
    honored their error bounds. Tests additionally pin the raw
    relative errors."""
    ev = _t(spark, sf, "events")
    sk = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("_au"),
        F.percentile_approx("value", 0.5, 10000).alias("_ap50"),
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("_n"),
    )
    rank = (
        ev.join(sk.select("event_type", "_ap50"), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") <= F.col("_ap50")).cast("long")).alias("_n_le"),
            F.sum((F.col("value") < F.col("_ap50")).cast("long")).alias("_n_lt"),
        )
    )
    # tie-robust median validity: on a heavily-tied distribution the
    # <=-fraction can legitimately exceed 52% (every tie counts), so
    # the check is the standard median property — strictly-below mass
    # can't pass the upper band, at-or-below mass must reach the lower
    frac_le = F.col("_n_le") / F.col("_n")
    frac_lt = F.col("_n_lt") / F.col("_n")
    return (
        sk.join(rank, "event_type")
        .select(
            "event_type",
            "n_users",
            (F.abs(F.col("_au") - F.col("n_users")) <= 0.05 * F.col("n_users"))
            .alias("hll_within_5pct"),
            ((frac_lt <= 0.52) & (frac_le >= 0.48)).alias("p50_within_rank_2pct"),
        )
    )


@query(oracle="""
            WITH a AS (SELECT doc_id FROM documents WHERE instr(text, 'merge') > 0),
                 b AS (SELECT doc_id FROM documents WHERE instr(text, 'window') > 0)
            SELECT doc_id, 'both' AS rel FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
            UNION ALL
            SELECT doc_id, 'only_merge' FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
            UNION ALL
            SELECT doc_id, 'only_window' FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a)
        """)
def q_set_ops(spark, sf):
    """Set operations (SURVEY §2.7 — none in the reference, engine
    exposes Spark's built-ins): doc-id sets by content predicate
    composed with INTERSECT / EXCEPT / UNION."""
    docs = _t(spark, sf, "documents")
    a = docs.filter(F.instr("text", "merge") > 0).select("doc_id")
    b = docs.filter(F.instr("text", "window") > 0).select("doc_id")
    both = a.intersect(b).withColumn("rel", F.lit("both"))
    only_a = a.exceptAll(b).withColumn("rel", F.lit("only_merge"))
    only_b = b.exceptAll(a).withColumn("rel", F.lit("only_window"))
    return both.unionByName(only_a).unionByName(only_b)


@query(oracle="""
            SELECT 'has_hot' AS kind, o_orderpriority, count(*) AS n
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
            GROUP BY 2
            UNION ALL
            SELECT 'no_hot', o_orderpriority, count(*)
            FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
            GROUP BY 2
        """)
def q_semi_anti_orders(spark, sf):
    """Semi/anti-join pair (TPC-H Q4 class): order-priority counts for
    orders that DO have a high-quantity lineitem (left_semi) and, as a
    disjoint label, those that don't (left_anti). The probe side is the
    distinct-free semi join — no lineitem aggregation, no fact shuffle
    beyond the join key."""
    orders = _t(spark, sf, "orders")
    hot = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 49)
    semi = (
        orders.join(hot, orders.o_orderkey == hot.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .withColumn("kind", F.lit("has_hot"))
    )
    anti = (
        orders.join(hot, orders.o_orderkey == hot.l_orderkey, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .withColumn("kind", F.lit("no_hot"))
    )
    return semi.unionByName(anti).select("kind", "o_orderpriority", "n")


@query(oracle="""
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
            QUALIFY rn <= 3
        """)
def q_topn_per_group(spark, sf):
    """Top-3 orders per customer by total price — rank-limit pushdown
    (WindowGroupLimit): each partition emits <= 3 rows before any full
    sort materializes."""
    from pyspark.sql import Window

    orders = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn"
        )
    )


@query(oracle="""
            SELECT event_id, event_type,
                   dense_rank() OVER w AS drank,
                   round(percent_rank() OVER w, 4) AS prank,
                   ntile(4) OVER w AS quartile
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        """)
def q_rank_functions(spark, sf):
    """Ranking-function family over one window: dense_rank, percent_rank,
    ntile quartiles of event values per type (value-tied rows rank
    identically in both engines)."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.dense_rank().over(w).alias("drank"),
        F.round(F.percent_rank().over(w), 4).alias("prank"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(oracle="""
            SELECT o_orderkey, o_custkey,
                   date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
                   round(sum(o_totalprice) OVER (
                     PARTITION BY o_custkey
                     ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                     RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 2) AS roll30
            FROM orders
        """)
def q_rolling_revenue(spark, sf):
    """RANGE-frame window: 30-day rolling order revenue per customer —
    value-based frames (peers by day, not by row) over one key shuffle."""
    from pyspark.sql import Window

    orders = _t(spark, sf, "orders")
    # o_orderdate is TIMESTAMP_NTZ (micros): truncate to DATE (tz-free)
    # and count days from epoch — identical truncation in DuckDB
    day = F.datediff(F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01")))
    w = (
        Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-29, 0)
    )
    return (
        orders.select(
            "o_orderkey", "o_custkey", day.alias("day"), "o_totalprice"
        )
        .withColumn("roll30", F.round(F.sum("o_totalprice").over(w), 2))
        .select("o_orderkey", "o_custkey", "day", "roll30")
    )


@query(oracle="""
            SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS ws,
                   event_type, count(*) AS n, round(sum(value), 2) AS total
            FROM events GROUP BY 1, 2
        """)
def q_window_hourly(spark, sf):
    """Event-time tumbling windows (batch form of the watermarked
    streaming agg): hourly buckets per event type. Epoch-aligned hour
    boundaries match DuckDB time_bucket."""
    ev = _t(spark, sf, "events").withColumn(
        "t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    agg = ev.groupBy(F.window("t", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )
    return agg.select(
        F.expr("unix_micros(w.start)").alias("ws"), "event_type", "n", "total"
    )


@query(oracle="""
            WITH p AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 x -> len(x) > 0) AS toks
              FROM documents),
            d AS (
              SELECT doc_id, len(toks) AS dl,
                     list_filter(toks, t -> t IN ('merge', 'window', 'data')) AS qt
              FROM p),
            t AS (SELECT doc_id, dl, unnest(qt) AS term FROM d),
            tf AS (SELECT doc_id, term, any_value(dl) AS dl, count(*) AS tf
                   FROM t GROUP BY 1, 2),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            c AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
            s AS (
              SELECT tf.doc_id,
                     ln((c.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1)
                     * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl)) AS sc
              FROM tf JOIN dft USING (term) CROSS JOIN c)
            SELECT doc_id, round(sum(sc), 4) AS score
            FROM s GROUP BY doc_id
            ORDER BY round(sum(sc), 4) DESC, doc_id
            LIMIT 20
        """)
def q_bm25_search(spark, sf):
    """BM25 top-20 keyword search (native expressions; see
    operators/textsearch.py for the plan shape)."""
    from pdf_to_vectordb_etl_spark.operators import textsearch

    docs = _t(spark, sf, "documents")
    out = textsearch.bm25_topk(docs, ["merge", "window", "data"], k=20)
    return out.select(F.col("id").alias("doc_id"), "score")


@query(oracle=f"""
            WITH sh AS (
              SELECT doc_id, {_SHINGLES} AS shingles
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)),
            ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2, a.doc_id, b.doc_id
              HAVING count(*) * 1.0
                     / (any_value(a.n) + any_value(b.n) - count(*)) >= 0.5),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            nodes AS (SELECT DISTINCT a AS id FROM edges),
            reach AS (
              WITH RECURSIVE r(id, m) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.a, r.m FROM edges e JOIN r ON e.b = r.id)
              SELECT id, min(m) AS cluster_id FROM r GROUP BY id)
            SELECT id, cluster_id FROM reach
        """)
def q_dedup_clusters(spark, sf):
    """Near-dup clustering: connected components over Jaccard>=0.5 pair
    edges (min-label propagation), cluster id = min member id."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup.cluster_pairs(pairs).select("id", "cluster_id")


@query(oracle=f"""
            WITH sh AS (
              SELECT doc_id, {_SHINGLES} AS shingles
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)),
            ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2, a.doc_id, b.doc_id
              HAVING count(*) * 1.0
                     / (any_value(a.n) + any_value(b.n) - count(*)) >= 0.5),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            nodes AS (SELECT DISTINCT a AS id FROM edges),
            reach AS (
              WITH RECURSIVE r(id, m) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.a, r.m FROM edges e JOIN r ON e.b = r.id)
              SELECT id, min(m) AS cluster_id FROM r GROUP BY id),
            losers AS (SELECT id FROM reach WHERE id != cluster_id)
            SELECT d.doc_id, d.lang, d.source
            FROM documents d ANTI JOIN losers l ON d.doc_id = l.id
        """)
def q_dedup_drop(spark, sf):
    """Canonical corpus after near-dup removal: keep the min-id member
    of every Jaccard>=0.5 cluster plus all unclustered rows."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    kept = dedup.drop_near_duplicates(docs, pairs)
    return kept.select("doc_id", "lang", "source")


# Exact-Jaccard ground truth for the LSH path: the emitted set
# is {LSH candidates} ∩ {exact Jaccard >= 0.5} computed over
# exact-shingle-set-collapsed docs: groups with identical
# distinct-shingle sets (SQL-recomputable — list_sort of the
# shingle list is the group key) emit (min-id rep, member, 1.0)
# star pairs and only reps enter the pair join. Equality on the
# rep-rep slice holds iff banded MinHash(32/8) recalls every
# >=0.5 rep pair — true on the fixed corpora (planted pairs sit
# at j >= 0.8, 8-band catch probability ~0.99+) and fully
# deterministic (seeded xxhash64), so this is a stable equality
# oracle, not a flaky probabilistic one.
@query(oracle=f"""
            WITH sh AS (
              SELECT doc_id, {_SHINGLES} AS shingles
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)),
            fp AS (
              SELECT doc_id, list_sort(shingles) AS skey
              FROM sh WHERE len(shingles) > 0),
            grp AS (SELECT skey, min(doc_id) AS rep FROM fp GROUP BY skey),
            member AS (
              SELECT f.doc_id, g.rep FROM fp f JOIN grp g ON f.skey = g.skey),
            ex AS (
              SELECT s.doc_id, unnest(s.shingles) AS sg, len(s.shingles) AS n
              FROM sh s JOIN grp g ON s.doc_id = g.rep),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)) AS j
              FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.5
            UNION ALL
            SELECT rep AS id_a, doc_id AS id_b,
                   CAST(1.0 AS DOUBLE) AS jaccard
            FROM member WHERE doc_id <> rep
        """)
def q_dedup_minhash_lsh(spark, sf):
    """MinHash(32) + LSH(8 bands) near-dup pairs with exact-duplicate
    pre-collapse, verified by exact Jaccard >= 0.5. Docs with identical
    distinct-shingle sets collapse to their min-id rep (emitted as
    (rep, member, 1.0) star pairs); only reps are banded, so a
    regenerated corpus shipping a million-copy boilerplate template is
    ONE banded row and the 512 occupancy cap stays on as pure
    defense-in-depth — this graded plan IS the 100-TB plan. Oracle =
    DuckDB star pairs per identical-shingle-set group + exact-Jaccard
    pairs between the (SQL-recomputable) representatives; equality on
    the rep-rep slice == "LSH recall is 1.0 among reps", deterministic
    here (seeded xxhash64; planted near-dups sit at j >= 0.8 where the
    8-band catch probability is ~1)."""
    docs = _t(spark, sf, "documents")
    out = dedup.minhash_dedup_pairs(docs, threshold=0.5, collapse_exact=True)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(oracle=f"""
            WITH t AS (
              SELECT doc_id, lang, source, {_NORM} AS norm,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hb
              FROM documents),
            corpus AS (SELECT DISTINCT norm FROM t WHERE hb < '8'),
            ranked AS (
              SELECT doc_id, lang, source, norm,
                     row_number() OVER (PARTITION BY norm ORDER BY doc_id)
                       AS rn
              FROM t WHERE hb >= '8')
            SELECT doc_id, lang, source
            FROM ranked r
            WHERE rn = 1 AND NOT EXISTS
              (SELECT 1 FROM corpus c WHERE c.norm = r.norm)
        """)
def q_dedup_incremental_exact(spark, sf):
    """Daily-ingest exact dedup: corpus = docs whose md5(id) bucket is
    below '8', new batch = the rest; admit new docs whose normalized
    text is unseen (vs corpus digests and within-batch min-id). One
    left-anti join on 32-byte digests — nothing quadratic in the
    corpus."""
    docs = _t(spark, sf, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    kept = dedup.incremental_exact_dedup(
        docs.filter(h >= "8"), dedup.content_digests(docs.filter(h < "8"))
    )
    return kept.select("doc_id", "lang", "source")


# Bloom-screened variant admits the identical set (no false negatives)
@query(oracle_of="dedup_incremental_exact")
def q_dedup_incremental_bloom(spark, sf):
    """Bloom-screened daily-ingest exact dedup: identical admit set to
    dedup_incremental_exact (the Bloom screen has no false negatives;
    probable hits still meet the digest table), but the batch path is
    ZERO-shuffle up to the residual anti-join — corpus digests fold to
    a broadcast bitset. Oracle = the same SQL as the plain variant."""
    docs = _t(spark, sf, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    kept = dedup.incremental_exact_dedup_bloom(
        docs.filter(h >= "8"), dedup.content_digests(docs.filter(h < "8"))
    )
    return kept.select("doc_id", "lang", "source")


# Exact new×corpus-REPRESENTATIVE Jaccard ground truth (corpus
# docs with identical distinct-shingle sets collapse to their
# min-id rep before pairing — the collapse_exact=True corpus
# pre-collapse, SQL-recomputable via list_sort group keys) —
# equality with the LSH-screened set holds by the same
# recall-1.0 argument as dedup_minhash_lsh (planted near-dups
# sit at j >= 0.8).
@query(oracle=f"""
            WITH t AS (
              SELECT *, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hb
              FROM documents),
            sh AS (
              SELECT doc_id, hb, {_SHINGLES} AS shingles
              FROM (SELECT doc_id, hb, string_split({_NORM}, ' ') AS w
                    FROM t)),
            grp AS (
              SELECT list_sort(shingles) AS skey, min(doc_id) AS rep
              FROM sh WHERE hb < '8' AND len(shingles) > 0
              GROUP BY skey),
            ex_new AS (SELECT doc_id, unnest(shingles) AS s,
                              len(shingles) AS n
                       FROM sh WHERE hb >= '8'),
            ex_old AS (SELECT s.doc_id, unnest(s.shingles) AS s2,
                              len(s.shingles) AS n
                       FROM sh s JOIN grp g ON s.doc_id = g.rep),
            pairs AS (
              SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
                     count(*) * 1.0
                       / (any_value(a.n) + any_value(b.n) - count(*)) AS j
              FROM ex_new a JOIN ex_old b ON a.s = b.s2
              GROUP BY 1, 2)
            SELECT new_id, corpus_id, round(j, 4) AS jaccard
            FROM pairs WHERE j >= 0.5
        """)
def q_dedup_incremental_minhash(spark, sf):
    """Cross-corpus near-dup screen: MinHash(32)+LSH(8) pairs between
    the new half and the corpus half with corpus-side exact-duplicate
    pre-collapse, verified by exact Jaccard >= 0.5. Corpus docs with
    identical shingle sets band as ONE min-id representative (every
    new doc is still flagged; Jaccard vs the rep == Jaccard vs any
    member), so the 512 occupancy cap stays on as defense-in-depth.
    Oracle = DuckDB exact new×corpus-representative Jaccard pair set
    (recall-1.0 among reps for the same reason as dedup_minhash_lsh)."""
    docs = _t(spark, sf, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    out = dedup.incremental_minhash_pairs(
        docs.filter(h >= "8"), docs.filter(h < "8"), threshold=0.5,
        collapse_exact=True,
    )
    return out.select(
        "new_id", "corpus_id", F.round("jaccard", 4).alias("jaccard")
    )


# Full signature recomputation: same bigram shingles, same
# 60-bit md5 shingle hash (hex chars folded via list_reduce —
# DuckDB 1.0 has no conv()), same +1/-1 bit votes and sign-pack.
@query(oracle=f"""
            WITH sh AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(w)-1, 0)),
                       i -> w[i] || ' ' || w[i+1])) AS shingles
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w
                    FROM documents)),
            ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
            h AS (
              SELECT doc_id,
                     list_reduce(list_transform(
                       string_split(substr(md5(s), 1, 15), ''),
                       c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                       (a, b) -> a * 16 + b) AS h
              FROM ex),
            v AS (
              SELECT doc_id, i,
                     sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
              FROM h, range(0, 60) t(i)
              GROUP BY doc_id, i),
            sig AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN vote > 0
                              THEN CAST(1 AS BIGINT) << i
                              ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
              FROM v GROUP BY doc_id)
            SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
            FROM documents d LEFT JOIN sig s USING (doc_id)
        """)
def q_dedup_simhash(spark, sf):
    """SimHash-64 signatures per doc, portable-hash mode (60-bit md5
    shingle hash): the full bit-vote signature is recomputed by the
    DuckDB oracle, value-for-value — xxhash64 mode (the default, tested
    equal in structure) can't be replayed outside the JVM."""
    docs = _t(spark, sf, "documents")
    out = dedup.simhash_signatures(
        docs, "text", "doc_id", shingle_n=2, portable_hash=True
    )
    return out.select(F.col("id").alias("doc_id"), "simhash")


@query(oracle=r"""
            WITH c AS (
              SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
            g AS (
              SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
                     round(quantile_cont(n, 0.5), 4) AS p50_n,
                     round(quantile_cont(n, 0.99), 4) AS p99_n
              FROM c),
            t AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 5)
            SELECT t.user_id, CAST(t.n AS BIGINT) AS n,
                   round(t.n * 1.0 / g.n_rows, 6) AS share,
                   g.n_keys, g.p50_n, g.p99_n
            FROM t, g
        """)
def q_skew_key_report(spark, sf):
    """Pre-launch skew diagnosis of the events.user_id join key: top-5
    hottest keys with shares plus distinct-key count and p50/p99 depth
    — one partial-combinable agg + constant-size reductions."""
    from pdf_to_vectordb_etl_spark.operators import skew

    ev = _t(spark, sf, "events")
    return skew.key_skew_report(ev, "user_id", top_n=5)


@query(oracle=r"""
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            s AS (
              SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) AS amax
              FROM v),
            sc AS (
              SELECT vec_id, v,
                     CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END AS scl
              FROM s),
            c AS (
              SELECT vec_id, v, scl,
                     list_transform(v, x -> CASE WHEN scl > 0
                       THEN CAST(round(x / scl, 0) AS INT) ELSE 0 END) AS codes
              FROM sc)
            SELECT vec_id, round(scl, 9) AS scale, codes,
                   round(list_max(list_transform(
                     generate_series(1, len(v)),
                     i -> abs(v[i] - codes[i] * scl))), 6) AS max_abs_err
            FROM c
        """)
def q_int8_quantize(spark, sf):
    """Symmetric per-vector int8 quantization of the embedding column
    (4x storage cut): scale, codes, and max reconstruction error in one
    narrow shuffle-free pass."""
    from pdf_to_vectordb_etl_spark.operators import quantization as pq

    emb = _t(spark, sf, "embeddings")
    return pq.int8_quantize(emb)


@query(oracle=r"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                          END AS n_tokens,
                     md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS hh
              FROM documents),
            s AS (
              SELECT doc_id, n_tokens, hh,
                     CAST((ascii(substr(hh, 1, 1)) * 16
                           + ascii(substr(hh, 2, 1))) % 4 AS INT) AS shard,
                     CAST(floor(log2(n_tokens)) AS INT) AS bucket
              FROM base WHERE n_tokens > 0),
            b AS (
              SELECT bucket, shard, n_tokens,
                     CAST((row_number() OVER (
                       PARTITION BY bucket, shard ORDER BY hh, doc_id) - 1)
                       // 32 AS INT) AS batch_idx
              FROM s),
            g AS (
              SELECT bucket, shard, batch_idx,
                     count(*) AS n_docs,
                     CAST(max(n_tokens) AS BIGINT) AS max_len,
                     CAST(sum(n_tokens) AS BIGINT) AS sum_len
              FROM b GROUP BY bucket, shard, batch_idx)
            SELECT bucket, shard, batch_idx, n_docs, max_len, sum_len,
                   round(1 - sum_len * 1.0 / (n_docs * max_len), 4)
                     AS padding_frac
            FROM g
        """)
def q_length_bucketed_batches(spark, sf):
    """Padded-batch assembly: power-of-two length buckets, md5 shuffle
    within (bucket, shard), fixed-size cuts, per-batch padding
    efficiency — the bucketing-vs-packing decision table."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    return curation.length_bucketed_batches(docs, batch_size=32, n_shards=4)


# The identical md5-derived sign matrix is regenerated here in
# Python and inlined as a SQL literal — both engines then run
# the same dot products over the same constants.
@query(oracle=(lambda _mat: f"""
            SELECT vec_id,
                   list_transform({_mat},
                     r -> round(list_sum(list_transform(
                            generate_series(1, 64),
                            i -> r[i] * CAST(embedding[i] AS DOUBLE))), 6))
                     AS projected
            FROM embeddings
        """)(
            "["
            + ", ".join(
                "[" + ", ".join(repr(x) for x in row) + "]"
                for row in __import__(
                    "pdf_to_vectordb_etl_spark.operators.embedding",
                    fromlist=["jl_sign_matrix"],
                ).jl_sign_matrix(64, 16)
            )
            + "]"
        ))
def q_jl_projection(spark, sf):
    """Johnson–Lindenstrauss ±1 random projection 64 -> 16: the
    literal-folded sign matrix makes this a narrow shuffle-free codegen
    projection; the oracle regenerates the identical md5-derived matrix
    and replays the arithmetic."""
    from pdf_to_vectordb_etl_spark.operators import embedding

    emb = _t(spark, sf, "embeddings")
    out = embedding.random_projection(emb, out_dim=16, in_dim=64)
    return out.select("vec_id", "projected")


@query(oracle=r"""
            WITH w AS (
              SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
              FROM documents),
            v AS (SELECT w, count(*) AS freq FROM w
                  WHERE length(w) > 0 GROUP BY w),
            p AS (
              SELECT freq,
                     unnest(list_transform(
                       generate_series(1, len(string_split(w, '')) - 1),
                       i -> string_split(w, '')[i] || string_split(w, '')[i+1]))
                       AS pair
              FROM v),
            c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n
                  FROM p GROUP BY pair)
            SELECT pair, n FROM c ORDER BY n DESC, pair LIMIT 50
        """)
def q_bpe_pair_counts(spark, sf):
    """Tokenizer-training inner loop: corpus-wide adjacent character-
    pair counts weighted by word frequency (the BPE merge-candidate
    table), top-50. Vocab-collapse first, so the pair expansion never
    touches raw text."""
    docs = _t(spark, sf, "documents")
    return ta.bpe_pair_counts(docs, "text", top_n=50)


@query(oracle=r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\s+')) AS tok,
                     unnest(range(len(string_split_regex(lower(text), '\s+'))))
                       AS pos
              FROM documents),
            t2 AS (SELECT * FROM toks WHERE tok <> ''),
            big AS (
              SELECT tok AS w1,
                     lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              FROM t2),
            b2 AS (SELECT w1, w2 FROM big WHERE w2 IS NOT NULL),
            bc AS (SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY w1, w2),
            uc AS (SELECT tok AS w, count(*) AS c FROM t2 GROUP BY tok),
            tot AS (SELECT (SELECT count(*) FROM t2) AS n,
                           (SELECT count(*) FROM b2) AS p),
            j AS (
              SELECT bc.w1, bc.w2, bc.c12,
                     round(log2(bc.c12 * 1.0 * tot.n * tot.n
                                / (tot.p * 1.0 * u1.c * u2.c)), 4) AS pmi
              FROM bc
              JOIN uc u1 ON u1.w = bc.w1
              JOIN uc u2 ON u2.w = bc.w2, tot
              WHERE bc.c12 >= 5)
            SELECT w1, w2, c12, pmi FROM j
            ORDER BY pmi DESC, w1, w2 LIMIT 40
        """)
def q_pmi_collocations(spark, sf):
    """Collocation mining: adjacent word pairs ranked by PMI (min
    count 5, top-40) — explode-once adjacency, two vocab-sized hash
    aggs, broadcast totals."""
    docs = _t(spark, sf, "documents")
    return ta.pmi_collocations(docs, "text", "doc_id", min_count=5, top_n=40)


@query(oracle=r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END AS n_ws_tokens,
                   len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_subword_tokens
            FROM documents
        """)
def q_ta_token_counts(spark, sf):
    """Token counting: whitespace + BPE-ish regex tokens."""
    docs = _t(spark, sf, "documents")
    return docs.select(
        "doc_id",
        ta.token_count(F.col("text")).alias("n_ws_tokens"),
        ta.subword_token_count(F.col("text")).alias("n_subword_tokens"),
    )


@query(oracle=r"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b'))
                       AS n_stop
              FROM documents),
            g AS (
              SELECT doc_id, n_tokens,
                     CASE WHEN n_tokens > 0
                          THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens ELSE 0.0 END
                       AS mean_token_len,
                     CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END
                       AS punct_ratio,
                     CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END
                       AS stopword_ratio
              FROM f)
            SELECT doc_id, n_tokens,
                   round(mean_token_len, 4) AS mean_token_len,
                   round(punct_ratio, 4) AS punct_ratio,
                   round(stopword_ratio, 4) AS stopword_ratio,
                   round(least(stopword_ratio * 4, 1.0) * 0.4
                         + CASE WHEN mean_token_len BETWEEN 3 AND 10 THEN 0.4 ELSE 0.0 END
                         + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END, 4)
                     AS quality_score
            FROM g
        """)
def q_ta_quality(spark, sf):
    """Quality scoring features + scalar score."""
    docs = _t(spark, sf, "documents")
    out = ta.quality_score(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("mean_token_len", 4).alias("mean_token_len"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        F.round("quality_score", 4).alias("quality_score"),
    )


# Nine-rule Gopher gate SQL — shared verbatim by the ta_quality_gopher
# oracle and (as a subquery) the gopher_rule_ablation replay.
_GOPHER_ORACLE_SQL = r"""
            WITH f AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS n_words,
                     length(regexp_replace(text, '\s', '', 'g')) AS n_word_chars,
                     len(regexp_extract_all(text, '#')) AS n_hash,
                     len(regexp_extract_all(text, '\.\.\.|…')) AS n_ellipsis,
                     len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS n_alpha,
                     len(string_split(text, chr(10))) AS n_lines,
                     len(regexp_extract_all(text, '(?m)^[ \t]*[-•*][ \t]'))
                       AS n_bullet_lines,
                     len(regexp_extract_all(text, '(?m)(\.\.\.|…)[ \t]*$'))
                       AS n_ellipsis_lines,
                     (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END)
                       AS stop_hits
              FROM (SELECT * REPLACE (regexp_replace(
                      coalesce(text, ''), '\r\n?', chr(10), 'g') AS text)
                    FROM documents) documents),
            g AS (
              SELECT doc_id, n_words, stop_hits,
                     floor((CASE WHEN n_words > 0
                            THEN n_word_chars * 1.0 / n_words ELSE 0.0 END) * 1e6) / 1e6
                       AS mean_word_len,
                     floor((CASE WHEN n_words > 0
                            THEN (n_hash + n_ellipsis) * 1.0 / n_words ELSE 0.0 END) * 1e6) / 1e6
                       AS symbol_word_ratio,
                     floor((CASE WHEN n_words > 0
                            THEN n_hash * 1.0 / n_words ELSE 0.0 END) * 1e6) / 1e6
                       AS hash_word_ratio,
                     floor((CASE WHEN n_lines > 0
                            THEN n_bullet_lines * 1.0 / n_lines ELSE 0.0 END) * 1e6) / 1e6
                       AS bullet_line_frac,
                     floor((CASE WHEN n_lines > 0
                            THEN n_ellipsis_lines * 1.0 / n_lines ELSE 0.0 END) * 1e6) / 1e6
                       AS ellipsis_line_frac,
                     floor((CASE WHEN n_words > 0
                            THEN n_alpha * 1.0 / n_words ELSE 0.0 END) * 1e6) / 1e6
                       AS alpha_word_frac
              FROM f),
            r AS (
              SELECT *,
                     CASE WHEN n_words >= 50 THEN 0 ELSE 1 END AS r0,
                     CASE WHEN n_words <= 100000 THEN 0 ELSE 2 END AS r1,
                     CASE WHEN mean_word_len >= 3.0 THEN 0 ELSE 4 END AS r2,
                     CASE WHEN mean_word_len <= 10.0 THEN 0 ELSE 8 END AS r3,
                     CASE WHEN symbol_word_ratio <= 0.1 THEN 0 ELSE 16 END AS r4,
                     CASE WHEN bullet_line_frac <= 0.9 THEN 0 ELSE 32 END AS r5,
                     CASE WHEN ellipsis_line_frac <= 0.3 THEN 0 ELSE 64 END AS r6,
                     CASE WHEN alpha_word_frac >= 0.8 THEN 0 ELSE 128 END AS r7,
                     CASE WHEN stop_hits >= 2 THEN 0 ELSE 256 END AS r8
              FROM g)
            SELECT doc_id, n_words,
                   mean_word_len + 0.0 AS mean_word_len,
                   symbol_word_ratio + 0.0 AS symbol_word_ratio,
                   hash_word_ratio + 0.0 AS hash_word_ratio,
                   bullet_line_frac + 0.0 AS bullet_line_frac,
                   ellipsis_line_frac + 0.0 AS ellipsis_line_frac,
                   alpha_word_frac + 0.0 AS alpha_word_frac,
                   stop_hits,
                   CAST(r0+r1+r2+r3+r4+r5+r6+r7+r8 AS INTEGER) AS gopher_fail_mask,
                   CASE WHEN r0+r1+r2+r3+r4+r5+r6+r7+r8 = 0 THEN 1 ELSE 0 END
                     AS gopher_pass
            FROM r
        """

# Gopher gate: every counter replayed with the same RE2-safe
# patterns; ratios 6-dp FLOOR-quantized on both sides (identical
# IEEE division inputs -> identical floor; engine round() can
# split on .5 boundaries).
@query(oracle=_GOPHER_ORACLE_SQL)
def q_ta_quality_gopher(spark, sf):
    """Full Gopher/RedPajama rule-set gate (Rae et al. 2021 §A1.1):
    word-count + mean-word-length bounds, symbol/hash-to-word ratios,
    bullet/ellipsis line fractions, alpha-word fraction, required-
    stopword count — ONE narrow regexp_count projection (no UDF, no
    explode; scan-throughput at 100 TB), plus a per-rule fail bitmask
    and the scalar pass flag."""
    docs = _t(spark, sf, "documents")
    out = ta.gopher_quality_gate(docs)
    return out.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_word_ratio",
        "hash_word_ratio",
        "bullet_line_frac",
        "ellipsis_line_frac",
        "alpha_word_frac",
        "stop_hits",
        "gopher_fail_mask",
        F.col("gopher_pass").cast("int").alias("gopher_pass"),
    )


@query(oracle=r"""
            WITH s AS (
              SELECT doc_id,
                     len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de,
                     len(regexp_extract_all(lower(text), '\b(the|and|of|to|a)\b')) AS s_en,
                     len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS s_es,
                     len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS s_fr,
                     len(regexp_extract_all(lower(text), '\b(o|que|de|em|uma)\b')) AS s_pt
              FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents)
            SELECT doc_id,
                   CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_pt) = 0 THEN 'und'
                        WHEN s_pt = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'pt'
                        WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'fr'
                        WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'es'
                        WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'en'
                        ELSE 'de' END AS detected_lang
            FROM s
        """)
def q_ta_langid(spark, sf):
    """Heuristic language ID: marker-stopword argmax."""
    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    return docs.select(
        "doc_id", ta.detect_language(F.col("text")).alias("detected_lang")
    )


@query(oracle=r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
                            '\s+', ' ', 'g'))) AS fp_md5,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(substr(text, 1, 64), ''),
                                      c -> CAST(coalesce(ascii(c), 0) AS BIGINT))),
                     (acc, ch) -> (acc * 31 + ch) % 2147483647) AS fp_roll
            FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents
        """)
def q_ta_fingerprint(spark, sf):
    """Document fingerprints: normalized-md5 + polynomial rolling hash."""
    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    return docs.select(
        "doc_id",
        ta.fingerprint_md5(F.col("text")).alias("fp_md5"),
        ta.rolling_hash(F.substring("text", 1, 64)).alias("fp_roll"),
    )


@query(oracle="""
            SELECT lang, count(*) AS n_chunks FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents
            GROUP BY lang ORDER BY lang
        """)
def q_w4_chunk_split(spark, sf):
    """W4 (real form) — chunk-window round trip: per-lang ordered concat
    of templated records, re-split on the literal key; chunk counts must
    equal source doc counts (SURVEY §7 guiding decision 1)."""
    from pdf_to_vectordb_etl_spark.operators import chunking

    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    rec = F.concat(
        F.substring("text", 1, 30), F.lit("\n(RESPOSTA CORRETA): A\n\n")
    )
    keyed = F.struct(F.col("doc_id").alias("k"), rec.alias("t"))
    content = (
        docs.groupBy("lang")
        .agg(F.sort_array(F.collect_list(keyed)).alias("parts"))
        .select(
            "lang",
            F.array_join(F.transform("parts", lambda s: s["t"]), "").alias("content"),
        )
    )
    chunks = chunking.split_chunks(content, key_cols=("lang",))
    return chunking.chunk_counts(chunks, key_cols=("lang",)).orderBy("lang")


@query(oracle="""
            SELECT doc_id, 64 AS dim, CAST(1.0 AS DOUBLE) AS l2norm FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents
        """)
def q_u3_embed_norm(spark, sf):
    """U3 — deterministic native embedder; the oracle checks the
    invariants (dimensionality, unit L2 norm) the hash values guarantee."""
    from pdf_to_vectordb_etl_spark.operators import embedding

    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    v = embedding.deterministic_embedding(F.col("text"), dim=64)
    return docs.select(
        "doc_id",
        F.size(v).alias("dim"),
        F.round(
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double") * x)),
            4,
        ).alias("l2norm"),
    )


# Full replication of the deterministic IVF index: md5-sampled
# centroids, cosine list assignment (6-dp-rounded rank, list_id
# tiebreak), top-4-of-16 probe, exact scoring within probed
# lists. Mirrors operators/topk.py ivf_centroids/ivf_assign/
# topk_cosine_ivf step for step.
@query(oracle="""
            WITH corpus AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 2),
            sampled AS (
              SELECT vec_id, embedding FROM corpus
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
            cents AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS list_id,
                     CAST(embedding AS DOUBLE[]) AS centroid
              FROM sampled),
            cassign AS (
              SELECT vec_id, embedding, list_id FROM (
                SELECT c.vec_id, c.embedding, ct.list_id,
                       row_number() OVER (
                         PARTITION BY c.vec_id
                         ORDER BY round(list_cosine_similarity(
                           CAST(c.embedding AS DOUBLE[]), ct.centroid), 6) DESC,
                           ct.list_id) AS r
                FROM corpus c CROSS JOIN cents ct)
              WHERE r = 1),
            qprobe AS (
              SELECT qid, qv, list_id FROM (
                SELECT q.vec_id AS qid, CAST(q.embedding AS DOUBLE[]) AS qv,
                       ct.list_id,
                       row_number() OVER (
                         PARTITION BY q.vec_id
                         ORDER BY round(list_cosine_similarity(
                           CAST(q.embedding AS DOUBLE[]), ct.centroid), 6) DESC,
                           ct.list_id) AS r
                FROM embeddings q CROSS JOIN cents ct
                WHERE q.vec_id < 2)
              WHERE r <= 4),
            scored AS (
              SELECT p.qid, c.vec_id,
                     list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), p.qv) AS s
              FROM cassign c JOIN qprobe p USING (list_id))
            SELECT qid, vec_id, round(s, 4) AS sim,
                   CAST(row_number() OVER (
                     PARTITION BY qid ORDER BY s DESC, vec_id) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 5
        """)
def q_k1_topk_ivf(spark, sf):
    """K1 scale path — IVF-pruned approximate top-k. Fully
    deterministic and portable (md5-sampled centroids, 6-dp-rounded
    assignment ranks), so the oracle replicates the ENTIRE index —
    centroid sample, list assignment, probe choice, candidate scoring —
    in DuckDB and the result is hash-verified, not just recall-checked.
    Tests additionally pin recall vs the exact q_k1_topk_cosine answer."""
    emb = _t(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
    )
    corpus = emb.filter(F.col("vec_id") >= 2)
    out = topk.topk_cosine_ivf(
        corpus, queries_df, k=5, n_lists=16, n_probe=4,
        corpus_vec="embedding", corpus_id="vec_id",
    )
    return out.select("qid", "vec_id", F.round("cosine_sim", 4).alias("sim"), "rank")


@query(oracle="""
            SELECT event_type, count(*) AS n FROM events
            GROUP BY event_type ORDER BY event_type
        """)
def q_t3_stream_agg(spark, sf):
    """T3 — Structured Streaming parity: availableNow micro-batches over
    the events table must reproduce the batch aggregate exactly (the
    reference's incremental per-file ETL semantics, SURVEY §2.11)."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = table_stream(spark, sf, "events")
    counts = stream.groupBy("event_type").agg(F.count("*").alias("n"))
    return drain_to_memory(counts, "t3_stream_agg_result").orderBy("event_type")


@query(oracle="""
            SELECT event_type, count(*) AS n FROM events GROUP BY event_type
        """)
def q_skew_two_phase_count(spark, sf):
    """Skew path — two-phase (salted partial + final) hot-group count."""
    from pdf_to_vectordb_etl_spark.operators import skew

    ev = _t(spark, sf, "events")
    return skew.two_phase_count(ev, ["event_type"], buckets=8)


@query(oracle="""
            SELECT user_id, count(*) AS n_events,
                   CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS total_value
            FROM events GROUP BY user_id
        """)
def q_t4_stateful_totals(spark, sf):
    """T4 — custom stateful streaming (applyInPandasWithState): per-user
    running totals across availableNow micro-batches; the final state
    must equal the batch aggregate."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )
    from pdf_to_vectordb_etl_spark.streaming.stateful import running_totals

    stream = table_stream(spark, sf, "events")
    res = drain_to_memory(
        running_totals(stream), "t4_stateful_totals_result", mode="update"
    )
    return res.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value")
    )


# Replays fake_decode: width/height are 16 + (md5 byte 0/1 % 240),
# images decode to one frame. Hex-pair -> byte via strpos.
@query(oracle="""
            WITH b AS (
              SELECT doc_id AS media_id,
                     (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1 AS h0,
                     (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1 AS h1
              FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents)
            SELECT media_id,
                   CAST(16 + h0 % 240 AS INT) AS width,
                   CAST(16 + h1 % 240 AS INT) AS height,
                   CAST(1 AS INT) AS n_frames
            FROM b
        """)
def q_mm_decode_meta(spark, sf):
    """Multimodal decode plumbing — binary payloads through the Arrow-
    batched mapInPandas kernel (deterministic fake decoder; real codecs
    import-gated). Python kernel; the oracle replays the fake decoder."""
    from pdf_to_vectordb_etl_spark.operators import multimodal

    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    media = multimodal.as_media(
        docs.withColumn("payload", F.encode("text", "UTF-8")), "payload", "doc_id"
    )
    out = multimodal.decode_media(media, decoder=multimodal.fake_decode)
    return out.select("media_id", "width", "height", "n_frames")


# Replays fake_decode's video branch (n_frames = 1 + md5
# byte2 % 64) + the every-8th sampling filter.
@query(oracle="""
            WITH b AS (
              SELECT doc_id AS media_id,
                     (strpos('0123456789abcdef', substr(md5(text), 5, 1)) - 1)
                       * 16
                       + strpos('0123456789abcdef', substr(md5(text), 6, 1))
                       - 1 AS h2
              FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents),
            f AS (SELECT media_id, 1 + h2 % 64 AS nf FROM b)
            SELECT media_id, CAST(i AS INT) AS frame_index
            FROM (SELECT media_id, unnest(range(nf)) AS i FROM f)
            WHERE i % 8 = 0
        """)
def q_mm_sample_frames(spark, sf):
    """Video frame-sampling plan: decode metadata (fake kernel, md5-
    deterministic frame counts), then one row per kept frame index —
    native sequence+filter+explode, no Python in the sampling step.
    The pixel fetch would be a second decode pass over only the
    sampled (media_id, frame) pairs."""
    from pdf_to_vectordb_etl_spark.operators import multimodal

    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    media = multimodal.as_media(
        docs.withColumn("payload", F.encode("text", "UTF-8")),
        "payload",
        "doc_id",
        kind="video",
    )
    decoded = multimodal.decode_media(media, decoder=multimodal.fake_decode)
    return multimodal.sample_frames(decoded, every_n=8)


@query(oracle="""
            SELECT doc_id,
                   to_json(struct_pack(
                     page_content := substr(text, 1, 20),
                     metadata := struct_pack(
                       materia := lang,
                       ano := CAST(2015 + doc_id % 9 AS INT))))
                     AS payload_json
            FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents
        """)
def q_n1_to_json(spark, sf):
    """N1/N3 — nested payload struct serialized to JSON (the reference's
    Qdrant point payload shape, qdrant_text_loader.py:205-211)."""
    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    payload = F.struct(
        F.substring("text", 1, 20).alias("page_content"),
        F.struct(
            F.col("lang").alias("materia"),
            (2015 + F.col("doc_id") % 9).cast("int").alias("ano"),
        ).alias("metadata"),
    )
    return docs.select("doc_id", F.to_json(payload).alias("payload_json"))


@query(oracle="""
            SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                   sha256(text) AS digest
            FROM documents
        """)
def q_mm_binary_meta(spark, sf):
    """Multimodal plumbing: opaque binary payload + typed metadata
    (byte length, content digest) — the schema/partitioning pattern for
    image/audio columns."""
    docs = _t(spark, sf, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("digest"),
    )


@query(oracle="""
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """)
def q_cube_order_matrix(spark, sf):
    """CUBE grouping sets over orders: every (status, priority) cell plus
    both marginals and the grand total in ONE pass — the expand-then-
    aggregate plan shuffles once regardless of how many grouping sets
    the cube expands to."""
    o = _t(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(oracle="""
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
                   round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
                   round(stddev_samp(l_discount), 6) AS sd_discount,
                   round(var_pop(l_tax), 6) AS var_tax,
                   count(*) AS n
            FROM lineitem GROUP BY l_returnflag
        """)
def q_stats_moments(spark, sf):
    """Second-moment statistics per return flag: correlation, sample
    covariance, stddev, population variance. All are single-pass
    partial-aggregable kernels (Welford-style merge), so the shuffle
    carries one accumulator per (partition, group) — no second scan,
    no window."""
    li = _t(spark, sf, "lineitem")
    # corr derived from NULL-safe accumulators: Spark 4's ANSI corr()
    # raises DIVIDE_BY_ZERO on a zero-variance group, DuckDB's returns
    # NULL — covar_pop/(sd_pop·sd_pop) with a nullif guard matches
    # DuckDB's NULL on degenerate groups and its value elsewhere
    agg = li.groupBy("l_returnflag").agg(
        F.covar_pop("l_quantity", "l_extendedprice").alias("_cv"),
        F.stddev_pop("l_quantity").alias("_sx"),
        F.stddev_pop("l_extendedprice").alias("_sy"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_discount"),
        F.round(F.var_pop("l_tax"), 6).alias("var_tax"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "l_returnflag",
        F.round(
            F.col("_cv") / F.expr("nullif(_sx * _sy, 0.0)"), 4
        ).alias("corr_qty_price"),
        "covar_qty_price",
        "sd_discount",
        "var_tax",
        "n",
    )


@query(oracle="""
            WITH m AS (
              SELECT user_id, event_id, epoch_us(ts) AS tus,
                     CASE WHEN event_type <> 'error' THEN value END AS v
              FROM events)
            SELECT user_id, event_id,
                   round(last_value(v IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY tus
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                   AS value_filled
            FROM m
        """)
def q_gapfill_locf(spark, sf):
    """Forward-fill (LOCF): treat 'error' events as missing readings and
    carry each user's last good value forward in time order — one
    window shuffle on user_id (see aggregates.forward_fill)."""
    ev = _t(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.expr("ts div 1000").alias("tus"),
        F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
    )
    filled = aggregates.forward_fill(
        ev, "v", by="user_id", order_cols=["tus"], out_col="vf"
    )
    return filled.select(
        "user_id", "event_id", F.round("vf", 4).alias("value_filled")
    )


@query(oracle="""
            SELECT o_orderpriority, count(*) AS n_lines,
                   CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100.0 AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= o_orderdate
              AND l_shipdate < o_orderdate + INTERVAL 30 DAY
            GROUP BY o_orderpriority
        """)
def q_interval_ship_join(spark, sf):
    """Equi+range interval join: revenue from lines shipped within 30
    days of their order date. The equi key (orderkey) keeps it a hash
    join — the time range is a post-join predicate — so the plan scales
    like any shuffle join instead of degenerating to a nested-loop
    range join. (These date columns are micros-precision TIMESTAMP_NTZ,
    unlike events.ts nanos — compare directly.)"""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.expr("o_orderdate + INTERVAL 30 DAYS"))
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        _e4_to_2dp(F.sum(_rev_e4())).alias("revenue"),
    )


@query(oracle="""
            SELECT user_id, last_type, round(lv, 4) AS last_value,
                   last_tus
            FROM (
              SELECT user_id, event_type AS last_type, value AS lv,
                     max(epoch_us(ts)) OVER (PARTITION BY user_id)
                       AS last_tus,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
              FROM events)
            WHERE rn = 1
        """)
def q_latest_per_key(spark, sf):
    """CDC compaction: collapse the event changelog to each user's
    latest record via max_by — a single hash aggregation with map-side
    partial combine (the row_number-window form would shuffle every
    version into a per-key sort; see aggregates.latest_per_key)."""
    ev = _t(spark, sf, "events").withColumn("tus", F.expr("ts div 1000"))
    out = aggregates.latest_per_key(
        ev, key="user_id", order_col="tus",
        payload_cols=["event_type", "value"], tiebreak_col="event_id",
    )
    return out.select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round("value", 4).alias("last_value"),
        F.col("tus").alias("last_tus"),
    )


@query(oracle="""
            WITH v AS (
              SELECT user_id, event_id, ts FROM events
              WHERE event_type = 'view'),
            p AS (
              SELECT user_id, event_id, ts FROM events
              WHERE event_type = 'purchase'),
            pairs AS (
              SELECT v.user_id,
                     (epoch_us(p.ts) // 1000000)
                     - (epoch_us(v.ts) // 1000000) AS lag_s
              FROM v JOIN p ON v.user_id = p.user_id
               AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
            SELECT user_id, count(*) AS n_pairs,
                   min(lag_s) AS min_lag_s, max(lag_s) AS max_lag_s
            FROM pairs GROUP BY user_id
        """)
def q_t5_stream_join(spark, sf):
    """T5 — stream-stream interval join (conversion attribution): every
    purchase within 1 h after a same-user view, joined across
    availableNow micro-batches with watermark-bounded state; summarized
    per user so the result is compact and order-free."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_interval_join,
        table_stream,
    )

    stream = table_stream(spark, sf, "events")
    pairs = stream_interval_join(stream, within="1 hour", watermark="100 days")
    return (
        drain_to_memory(pairs, "t5_stream_join_result", mode="append")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("lag_s").alias("min_lag_s"),
            F.max("lag_s").alias("max_lag_s"),
        )
    )


# the streaming session_window form must agree row-for-row with the
# batch islands formulation — same oracle by construction
@query(oracle_of="sessionize_native")
def q_t7_stream_sessionize(spark, sf):
    """T7 — session_window under Structured Streaming: the stream form
    of sessionize_native over availableNow micro-batches (complete
    mode; see stream_sessionize docstring for the append+watermark
    24/7 shape). Oracle = the batch islands SQL — stream and batch
    must agree row-for-row."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_sessionize,
        table_stream,
    )

    stream = table_stream(spark, sf, "events")
    sessions = stream_sessionize(stream, gap="30 minutes")
    return drain_to_memory(sessions, "t7_stream_sessionize_result").select(
        "user_id", "session_start_us", "n_events", "span_us"
    )


@query(oracle="""
            WITH a AS (
              SELECT avg(c_acctbal) AS avg_bal FROM customer
              WHERE c_acctbal > 0)
            SELECT c_mktsegment, count(*) AS n_cust,
                   round(sum(c_acctbal), 2) AS total_bal
            FROM customer, a
            WHERE c_acctbal > avg_bal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority LIKE '1%')
            GROUP BY c_mktsegment
        """)
def q_idle_customer_balance(spark, sf):
    """TPC-H Q22 class — customers with above-average positive balance
    and no URGENT orders, totaled per market segment: one 1-row
    broadcast (the global average), one left-anti join whose build side
    is pre-filtered AND pre-distinct'd (only urgent custkeys ship), one
    aggregate. (The anti-join predicate is on urgent orders — in this
    synthetic corpus every customer has some order, which would make
    the textbook no-orders-at-all form trivially empty.)"""
    c = _t(spark, sf, "customer")
    urgent = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority").startswith("1"))
        .select("o_custkey")
        .distinct()
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    idle = rich.join(urgent, rich["c_custkey"] == urgent["o_custkey"], "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@query(oracle="""
            WITH ex AS (
              SELECT label, dim,
                     CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                       AS q
              FROM (SELECT label, unnest(embedding) AS x,
                           unnest(range(len(embedding))) AS dim
                    FROM embeddings))
            SELECT label, dim,
                   floor(CAST(sum(q) AS DOUBLE) / count(*)) / 1e6 + 0.0
                     AS centroid,
                   count(*) AS n_vecs
            FROM ex GROUP BY label, dim
        """)
def q_centroids_ivf_train(spark, sf):
    """IVF training step: per-label centroid of the embedding column.
    posexplode to (label, dim, x) rows — explode ONCE, then one hash
    aggregation (map-side combined); no UDFs, no driver-side matrix.
    Exactness: elements micro-quantize BEFORE the sum (a raw avg() is
    summation-order-dependent across engines — the resample_locf
    lesson; the r8 seed-randomized fixture caught exactly this plus an
    IEEE -0.0 from round(avg≈-1e-9)), so the mean is one division of
    exact integers, floor-quantized at 6 dp on both sides."""
    emb = _t(spark, sf, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    q = F.floor(F.col("x").cast("double") * 1000000).cast("long")
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.sum(q).alias("_sm"),
            F.count("*").alias("n_vecs"),
        )
        .select(
            "label",
            "dim",
            (
                F.floor(F.col("_sm").cast("double") / F.col("n_vecs"))
                / 1e6
                + 0.0
            ).alias("centroid"),
            "n_vecs",
        )
    )


@query(oracle=r"""
            WITH toks AS (
              SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents)
            SELECT tok, count(*) AS n FROM toks
            WHERE length(tok) > 0
            GROUP BY tok ORDER BY n DESC, tok LIMIT 20
        """)
def q_ta_top_terms(spark, sf):
    """Corpus vocabulary heavy-hitters: top-20 whitespace tokens by
    frequency. explode-once -> hash agg (map-side combined) ->
    TakeOrderedAndProject (the limit rides the sort, nothing global
    materializes). Tiebreak on token makes the cut a total order so
    the boundary is engine-stable."""
    docs = _t(spark, sf, "documents")
    toks = docs.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"))
    return (
        toks.filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(20)
    )


@query(oracle=r"""
            WITH s AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or 10.0.0.'
                          || CAST(doc_id % 256 AS VARCHAR) AS t
              FROM documents)
            SELECT doc_id,
                   md5(regexp_replace(regexp_replace(regexp_replace(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                       '\+?\b(?:\d{1,3}[-. ])?\d{3}[-. ]\d{3,4}[-. ]\d{4}\b', '<PHONE>', 'g'))
                   AS scrubbed_md5,
                   len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   + len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
                   + len(regexp_extract_all(t, '\+?\b(?:\d{1,3}[-. ])?\d{3}[-. ]\d{3,4}[-. ]\d{4}\b'))
                   AS n_pii
            FROM s
        """)
def q_ta_pii_scrub(spark, sf):
    """Training-data hygiene: redact emails / IPs / phone-shaped tokens
    (deterministically salted into the text so the kernel is exercised
    on every row) — pure JVM regexp chain, no UDF; verified by digest
    + per-row hit count."""
    docs = _t(spark, sf, "documents")
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
    )
    return docs.select(
        "doc_id",
        F.md5(ta.redact_pii(salted)).alias("scrubbed_md5"),
        ta.pii_hit_count(salted).alias("n_pii"),
    )


@query(oracle="""
            WITH ex AS (
              SELECT label, unnest(range(len(embedding))) AS dim,
                     unnest(embedding) AS x
              FROM embeddings),
            cd AS (SELECT label, dim, avg(x) AS c FROM ex GROUP BY label, dim),
            cent AS (SELECT label AS list_id, list(c ORDER BY dim) AS centroid
                     FROM cd GROUP BY label),
            sims AS (
              SELECT e.vec_id, c.list_id,
                     list_cosine_similarity(e.embedding, c.centroid) AS cs
              FROM embeddings e CROSS JOIN cent c),
            r AS (SELECT vec_id, list_id,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cs DESC, list_id) AS rn
                  FROM sims)
            SELECT vec_id, list_id AS best_label FROM r WHERE rn = 1
        """)
def q_ivf_assign_cosine(spark, sf):
    """IVF assignment step (E-step), oracle-verified: build per-label
    mean centroids (portable, unlike the xxhash64-sampled quantizer of
    k1_topk_ivf), then route every vector to its nearest centroid by
    cosine via topk.ivf_assign — broadcast centroid table, one window
    per row-key, label tiebreak."""
    emb = _t(spark, sf, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    cd = ex.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    cent = (
        cd.groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
            ).alias("centroid")
        )
        .select(F.col("label").alias("list_id"), "centroid")
    )
    assigned = topk.ivf_assign(emb.select("vec_id", "embedding"), cent, 1, "embedding")
    return assigned.select("vec_id", F.col("list_id").alias("best_label"))


# incremental IVF maintenance: same centroid CTE; assignment
# ranked on floor(sim*1e6) (integral key -> engine-identical
# winner); every ratio is int/int so the report is bit-exact.
@query(oracle="""
            WITH ex AS (
              SELECT label, unnest(range(len(embedding))) AS dim,
                     unnest(embedding) AS x
              FROM embeddings),
            cd AS (SELECT label, dim, avg(x) AS c FROM ex GROUP BY label, dim),
            cent AS (SELECT label AS list_id, list(c ORDER BY dim) AS centroid
                     FROM cd GROUP BY label),
            sims AS (
              SELECT e.vec_id, c.list_id,
                     CAST(floor(list_cosine_similarity(e.embedding,
                          c.centroid) * 1e6) AS BIGINT) AS sq
              FROM embeddings e CROSS JOIN cent c),
            a AS (SELECT vec_id, list_id, sq,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY sq DESC, list_id) AS rn
                  FROM sims),
            home AS (SELECT vec_id, list_id, sq FROM a WHERE rn = 1),
            base AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n_base
                     FROM home WHERE vec_id % 4 <> 0 GROUP BY list_id),
            newo AS (SELECT list_id, CAST(count(*) AS BIGINT) AS n_new,
                            CAST(sum(sq) AS BIGINT) AS ssq
                     FROM home WHERE vec_id % 4 = 0 GROUP BY list_id),
            occ AS (SELECT coalesce(b.list_id, w.list_id) AS list_id,
                           coalesce(n_base, 0) AS n_base,
                           coalesce(n_new, 0) AS n_new, ssq
                    FROM base b FULL OUTER JOIN newo w
                      ON b.list_id = w.list_id),
            tot AS (SELECT CAST(sum(n_base) AS BIGINT) AS tb,
                           CAST(sum(n_new) AS BIGINT) AS tn FROM occ)
            SELECT list_id, n_base, n_new,
                   floor(n_base / nullif(CAST(tb AS DOUBLE), 0.0) * 1e6)
                     / 1e6 AS share_base,
                   floor(n_new / nullif(CAST(tn AS DOUBLE), 0.0) * 1e6)
                     / 1e6 AS share_new,
                   floor(n_new / nullif(CAST(tn AS DOUBLE), 0.0) * 1e6)
                     / 1e6
                   - floor(n_base / nullif(CAST(tb AS DOUBLE), 0.0) * 1e6)
                     / 1e6 AS drift,
                   CASE WHEN n_new > 0
                        THEN floor(CAST(ssq AS DOUBLE) / n_new) / 1e6
                   END AS mean_home_sim
            FROM occ CROSS JOIN tot ORDER BY list_id
        """)
def q_ivf_incremental_assign(spark, sf):
    """Incremental ANN-index maintenance: the corpus (vec_id % 4 != 0)
    trained the IVF index — here it participates only as its persisted
    per-list occupancy artifact — and the ingest batch (vec_id % 4 = 0)
    is broadcast-assigned into the EXISTING centroids, producing the
    per-list occupancy-drift + home-similarity report that tells an
    operator the quantizer needs retraining. All ratios derive from
    exact integers (counts, 1e-6-floor-quantized sims), so the whole
    report replays bit-identically in DuckDB."""
    emb = _t(spark, sf, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    cd = ex.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    cent = (
        cd.groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
            ).alias("centroid")
        )
        .select(F.col("label").alias("list_id"), "centroid")
    )
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0)
    base = topk.ivf_occupancy(corpus, cent, "embedding", "vec_id")
    return topk.ivf_incremental_assign(
        batch, cent, base, "embedding", "vec_id"
    ).orderBy("list_id")


# SemDeDup twin: same assignment CTE as ivf_assign_cosine
# (round-6 + list_id tiebreak matches topk.ivf_assign), then
# exact within-cluster cosine pairs.
@query(oracle="""
            WITH ex AS (
              SELECT label, unnest(range(len(embedding))) AS dim,
                     unnest(embedding) AS x
              FROM embeddings),
            cd AS (SELECT label, dim, avg(x) AS c FROM ex GROUP BY label, dim),
            cent AS (SELECT label AS list_id, list(c ORDER BY dim) AS centroid
                     FROM cd GROUP BY label),
            sims AS (
              SELECT e.vec_id, c.list_id,
                     round(list_cosine_similarity(e.embedding, c.centroid), 6)
                       AS cs
              FROM embeddings e CROSS JOIN cent c),
            r AS (SELECT vec_id, list_id,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cs DESC, list_id) AS rn
                  FROM sims),
            a AS (SELECT vec_id, list_id FROM r WHERE rn = 1)
            SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                   round(list_cosine_similarity(
                     CAST(x.embedding AS DOUBLE[]),
                     CAST(y.embedding AS DOUBLE[])), 4) AS sim,
                   ax.list_id
            FROM embeddings x
            JOIN a ax ON ax.vec_id = x.vec_id
            JOIN a ay ON ay.list_id = ax.list_id
            JOIN embeddings y ON y.vec_id = ay.vec_id
                             AND x.vec_id < y.vec_id
            WHERE list_cosine_similarity(
                    CAST(x.embedding AS DOUBLE[]),
                    CAST(y.embedding AS DOUBLE[])) >= 0.45
        """)
def q_dedup_semantic(spark, sf):
    """SemDeDup (arXiv:2303.09540): per-label mean centroids -> nearest-
    centroid assignment -> exact cosine pairs WITHIN clusters only
    (applyInPandas matmul per cluster; quadratic work divided by the
    cluster count). Pairs at sim >= 0.45 with their cluster id."""
    emb = _t(spark, sf, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    cd = ex.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    cent = (
        cd.groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
            ).alias("centroid")
        )
        .select(F.col("label").alias("list_id"), "centroid")
    )
    out = dedup.semantic_dedup_pairs(emb, cent, threshold=0.45)
    return out.select(
        "id_a", "id_b", F.round("cosine_sim", 4).alias("sim"), "list_id"
    )


@query(oracle=r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\s+')) AS tok,
                     unnest(range(len(string_split_regex(lower(text), '\s+')))) AS pos
              FROM documents),
            t2 AS (SELECT * FROM toks WHERE tok <> ''),
            big AS (
              SELECT doc_id, tok AS w1,
                     lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              FROM t2),
            b2 AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
            bc AS (SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY w1, w2),
            uc AS (SELECT w1, count(*) AS c1 FROM b2 GROUP BY w1),
            probs AS (
              SELECT bc.w1, bc.w2, ln(CAST(c12 AS DOUBLE) / c1) AS lp
              FROM bc JOIN uc ON bc.w1 = uc.w1)
            SELECT b2.doc_id, round(avg(lp), 4) AS lm_score,
                   count(*) AS n_bigrams
            FROM b2 JOIN probs ON b2.w1 = probs.w1 AND b2.w2 = probs.w2
            GROUP BY b2.doc_id
        """)
def q_ta_bigram_lm(spark, sf):
    """Corpus-trained bigram LM score per document (mean ln P(w2|w1)) —
    learned-model quality signal; see textanalysis.bigram_logprob_scores
    for the explode-once / broadcast-model plan shape."""
    docs = _t(spark, sf, "documents")
    return ta.bigram_logprob_scores(docs)


@query(oracle="""
            SELECT c_mktsegment, count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment
        """)
def q_t6_stream_enrich(spark, sf):
    """T6 — stream-static enrichment: the event stream broadcast-joined
    per micro-batch against the static customer dim (no watermark, no
    join state — the static side is just a broadcast hash table),
    aggregated per market segment."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    stream = table_stream(spark, sf, "events")
    enriched = stream.join(
        F.broadcast(cust), stream["user_id"] == cust["c_custkey"], "inner"
    )
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return drain_to_memory(agg, "t6_stream_enrich_result")


@query(oracle="""
            WITH o AS (
              SELECT event_id, event_type, value FROM events
              WHERE event_id % 11 <> 0),
            n AS (
              SELECT event_id, event_type,
                     CASE WHEN event_id % 5 = 0 THEN value + 1
                          ELSE value END AS value
              FROM events WHERE event_id % 13 <> 0),
            d AS (
              SELECT coalesce(o.event_id, n.event_id) AS event_id,
                     CASE WHEN o.event_id IS NULL THEN 'added'
                          WHEN n.event_id IS NULL THEN 'removed'
                          WHEN o.event_type IS DISTINCT FROM n.event_type
                            OR o.value IS DISTINCT FROM n.value THEN 'changed'
                          ELSE 'unchanged' END AS change_type
              FROM o FULL OUTER JOIN n ON o.event_id = n.event_id)
            SELECT event_id, change_type FROM d
            WHERE change_type <> 'unchanged'
        """)
def q_snapshot_diff(spark, sf):
    """CDC snapshot reconciliation: two synthetic versions of the events
    table (deterministic row drops + value edits) diffed into an
    added/removed/changed changelog — one full-outer shuffle, output
    O(churn). See operators/cdc.snapshot_diff."""
    from pdf_to_vectordb_etl_spark.operators import cdc

    ev = _t(spark, sf, "events").select("event_id", "event_type", "value")
    old = ev.filter(F.col("event_id") % 11 != 0)
    new = ev.filter(F.col("event_id") % 13 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 5 == 0, F.col("value") + 1).otherwise(
            F.col("value")
        ),
    )
    return cdc.snapshot_diff(old, new, ["event_id"])


@query(oracle="""
            WITH m AS (
              SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS b, value
              FROM events),
            w AS (
              SELECT b AS ws, value FROM m
              UNION ALL
              SELECT b - 3600000000 AS ws, value FROM m)
            SELECT ws, count(*) AS n, round(sum(value), 2) AS total
            FROM w GROUP BY ws
        """)
def q_window_sliding(spark, sf):
    """Sliding event-time windows (2 h length, 1 h slide): each event
    lands in exactly two windows. Spark's window() generates both
    assignments in one projection (no self-union, no double scan);
    epoch-aligned starts keep the oracle's two-shifted-buckets twin
    exact."""
    ev = _t(spark, sf, "events").withColumn(
        "t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    agg = ev.groupBy(F.window("t", "2 hours", "1 hour").alias("w")).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )
    return agg.select(F.expr("unix_micros(w.start)").alias("ws"), "n", "total")


@query(oracle="""
            SELECT least(11, CAST(floor(o_totalprice / CAST(50000 AS DOUBLE))
                                  AS INT)) AS bin,
                   count(*) AS n,
                   round(min(o_totalprice), 2) AS lo_val,
                   round(max(o_totalprice), 2) AS hi_val
            FROM orders GROUP BY bin
        """)
def q_histogram_price(spark, sf):
    """Equi-width histogram of order totals (12 x 50k bins, top bin
    clamps the tail): one narrow projection + one hash agg — the
    whole histogram is a single pass regardless of bin count."""
    o = _t(spark, sf, "orders")
    width = 50000.0
    b = F.least(F.lit(11), F.floor(F.col("o_totalprice") / width)).cast("int")
    return o.groupBy(b.alias("bin")).agg(
        F.count("*").alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo_val"),
        F.round(F.max("o_totalprice"), 2).alias("hi_val"),
    )


@query(oracle="""
            WITH seg AS (
              SELECT c_mktsegment, sum(o_totalprice) AS rev
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY c_mktsegment)
            SELECT c_mktsegment, round(rev, 2) AS revenue,
                   round(rev / sum(rev) OVER (), 6) AS share
            FROM seg
        """)
def q_share_of_total(spark, sf):
    """Percent-of-total analytics: each market segment's share of
    revenue — aggregate FIRST (5 rows), then a window over the tiny
    aggregate; the ratio never touches row-grain data."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    seg = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    from pyspark.sql import Window

    total = F.sum("rev").over(Window.partitionBy())
    return seg.select(
        "c_mktsegment",
        F.round("rev", 2).alias("revenue"),
        F.round(
            F.col("rev") / F.when(total != 0, total), 6
        ).alias("share"),
    )


@query(oracle="""
            WITH yearly AS (
              SELECT year(o_orderdate) AS yr, sum(o_totalprice) AS rev
              FROM orders GROUP BY yr)
            SELECT yr, round(rev, 2) AS revenue,
                   round(rev / lag(rev) OVER (ORDER BY yr) - 1, 6) AS yoy
            FROM yearly
        """)
def q_yoy_growth(spark, sf):
    """Year-over-year growth of order revenue: aggregate per year, then
    lag() on the 8-row series — the classic two-level plan (big agg,
    tiny window)."""
    o = _t(spark, sf, "orders")
    yearly = o.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    from pyspark.sql import Window

    prev = F.lag("rev").over(Window.orderBy("yr"))
    return yearly.select(
        "yr",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / prev - 1, 6).alias("yoy"),
    )


@query(oracle="""
            SELECT user_id,
                   count(*) FILTER (event_type = 'view') AS n_views,
                   count(*) FILTER (event_type = 'purchase') AS n_purchases,
                   round(CASE WHEN count(*) FILTER (event_type = 'view') > 0
                         THEN count(*) FILTER (event_type = 'purchase')
                              / CAST(count(*) FILTER (event_type = 'view') AS DOUBLE)
                         END, 6) AS conversion
            FROM events GROUP BY user_id
        """)
def q_funnel_conditional_agg(spark, sf):
    """Conditional aggregation (FILTER-clause class): per-user funnel
    metrics — views, purchases, conversion ratio — as count_if columns
    in ONE pass; the pivot-free way to widen metrics without extra
    scans or shuffles."""
    ev = _t(spark, sf, "events")
    n_view = F.count_if(F.col("event_type") == "view")
    n_buy = F.count_if(F.col("event_type") == "purchase")
    return ev.groupBy("user_id").agg(
        n_view.alias("n_views"),
        n_buy.alias("n_purchases"),
        F.round(
            F.when(n_view > 0, n_buy / n_view).otherwise(F.lit(None)), 6
        ).alias("conversion"),
    )


@query(oracle=r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split(
                       regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                       ' ')) AS tok
              FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
                   WHERE tok <> '' GROUP BY doc_id, tok),
            dfreq AS (SELECT tok, count(*) AS dfq FROM tf GROUP BY tok),
            nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
            w AS (
              SELECT tf.doc_id, tf.tok,
                     tf.tf * ln(CAST(nd.n AS DOUBLE) / dfq) AS w
              FROM tf JOIN dfreq USING (tok) CROSS JOIN nd
              WHERE dfq <= 0.3 * nd.n),
            norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm
                      FROM w GROUP BY doc_id),
            dots AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     sum(a.w * b.w) AS dot
              FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(dot / (na.nrm * nb.nrm), 4) AS cos
            FROM dots
            JOIN norms na ON na.doc_id = id_a
            JOIN norms nb ON nb.doc_id = id_b
            WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.6
        """)
def q_dedup_tfidf_cosine(spark, sf):
    """Weighted lexical near-dup: TF-IDF cosine >= 0.6 over an
    inverted-index self-join with a max-df stopword cut (see
    dedup.tfidf_cosine_pairs) — the weighted complement to the
    set-based Jaccard scorer."""
    docs = _t(spark, sf, "documents")
    return dedup.tfidf_cosine_pairs(docs, threshold=0.6, max_df_ratio=0.3)


@query(oracle=r"""
            WITH t AS (
              SELECT doc_id,
                     string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                                  ' ') AS ws
              FROM documents),
            ex AS (
              SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS pos
              FROM t),
            led AS (
              SELECT doc_id, w,
                     lead(w, 1) OVER win AS l1, lead(w, 2) OVER win AS l2
              FROM ex WHERE w <> ''
              WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
            grams AS (
              SELECT doc_id, 1 AS n, w AS gram FROM led
              UNION ALL
              SELECT doc_id, 2, w || ' ' || l1 FROM led WHERE l1 IS NOT NULL
              UNION ALL
              SELECT doc_id, 3, w || ' ' || l1 || ' ' || l2 FROM led
              WHERE l2 IS NOT NULL),
            counts AS (
              SELECT doc_id, n, gram, count(*) AS c FROM grams GROUP BY 1, 2, 3),
            per AS (
              SELECT doc_id, n, max(c) AS mx, sum(c) AS tot FROM counts GROUP BY 1, 2)
            SELECT doc_id,
                   round(max(CASE WHEN n = 1 THEN CAST(mx AS DOUBLE) END)
                         / max(CASE WHEN n = 1 THEN CAST(tot AS DOUBLE) END), 6)
                     AS top_unigram_frac,
                   round(max(CASE WHEN n = 2 THEN CAST(mx AS DOUBLE) END)
                         / max(CASE WHEN n = 2 THEN CAST(tot AS DOUBLE) END), 6)
                     AS top_bigram_frac,
                   round(max(CASE WHEN n = 3 THEN CAST(mx AS DOUBLE) END)
                         / max(CASE WHEN n = 3 THEN CAST(tot AS DOUBLE) END), 6)
                     AS top_trigram_frac
            FROM per GROUP BY doc_id
        """)
def q_curation_repetition(spark, sf):
    """Repetition quality signals (adapted Gopher filters): occurrence
    fraction of the most frequent uni/bi/trigram per document —
    explode-once + lead windows + two aggregations (curation.py)."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    return curation.repetition_metrics(docs)


@query(oracle="""
            SELECT doc_id, source FROM documents
            QUALIFY row_number() OVER (
              PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 10
        """)
def q_curation_cap_per_domain(spark, sf):
    """Domain balancing: at most 10 docs per source, chosen by the
    portable md5 rank (layout-invariant, engine-portable)."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    return curation.cap_per_group(docs, by="source", n=10).select(
        "doc_id", "source"
    )


@query(oracle="""
            WITH h AS (
              SELECT doc_id,
                     md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS hh
              FROM documents),
            s AS (
              SELECT doc_id, hh,
                     CAST((ascii(substr(hh, 1, 1)) * 16
                           + ascii(substr(hh, 2, 1))) % 8 AS INT) AS shard
              FROM h)
            SELECT doc_id, shard,
                   CAST(row_number() OVER (
                     PARTITION BY shard ORDER BY hh, doc_id) AS INT) AS pos
            FROM s
        """)
def q_curation_shard_shuffle(spark, sf):
    """Deterministic training-order shuffle into 8 shards: (shard, pos)
    from salted md5 — reproducible on any engine/partition layout,
    per-shard windows (no global sort)."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    return curation.shard_shuffle(docs, n_shards=8, salt="epoch0").select(
        "doc_id", "shard", "pos"
    )


@query(oracle=r"""
            WITH norm AS (
              SELECT doc_id,
                     string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                                  ' ') AS w,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b
              FROM documents),
            sh AS (
              SELECT doc_id, b,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 7, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                            w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
                            w[i+6] || ' ' || w[i+7]))) AS s
              FROM norm),
            bench AS (SELECT DISTINCT s FROM sh WHERE b < '14'),
            ov AS (
              SELECT doc_id, count(*) AS n_overlap
              FROM sh JOIN bench USING (s)
              WHERE sh.b >= '14'
              GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
                   coalesce(ov.n_overlap, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents
                  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '14') d
            LEFT JOIN ov USING (doc_id)
        """)
def q_curation_contamination(spark, sf):
    """Benchmark-contamination check: distinct 8-gram overlap of every
    corpus doc against a held-out benchmark slice (md5-bucketed ~8% of
    docs), inverted-index join on shingle hashes."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "14"
    return curation.contamination_check(
        docs.filter(~is_bench), docs.filter(is_bench), n=8
    )


# bench-side telemetry: same shingle join, grouped per
# benchmark item (bounded state relation of the T28 gate)
@query(oracle=r"""
            WITH norm AS (
              SELECT doc_id,
                     string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                                  ' ') AS w,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b
              FROM documents),
            sh AS (
              SELECT doc_id, b,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 7, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                            w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
                            w[i+6] || ' ' || w[i+7]))) AS s
              FROM norm)
            SELECT b2.doc_id AS bench_id,
                   CAST(count(*) AS BIGINT) AS n_hits
            FROM (SELECT doc_id, s FROM sh WHERE b >= '14') c
            JOIN (SELECT doc_id, s FROM sh WHERE b < '14') b2 USING (s)
            GROUP BY b2.doc_id
        """)
def q_contamination_bench(spark, sf):
    """Per-benchmark-item leak telemetry: for every held-out doc
    (md5-bucket < '14') with any 8-gram overlap, the total count of
    (corpus doc, shared distinct shingle) pairs. Bounded output —
    the associative state relation the T28 streaming gate folds."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "14"
    return curation.contamination_bench_telemetry(
        docs.filter(~is_bench), docs.filter(is_bench), n=8
    )


@query(oracle_of="contamination_bench")
def q_t28_stream_contamination(spark, sf):
    """T28 — streaming contamination gate: the benchmark's shingle
    table (static, checkpointed, broadcast) screens the document
    ingest stream per-row; the only stream state is one associative
    count per benchmark item (≤ |benchmark| rows). Snapshot == the
    batch contamination_bench_telemetry, whose SQL is the oracle."""
    from pdf_to_vectordb_etl_spark.operators import curation
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_contamination_totals,
        table_stream,
    )

    batch_docs = spark.read.parquet(f"{sf}/documents.parquet")
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "14"
    bench_sh = curation.benchmark_shingle_table(
        batch_docs.filter(is_bench), n=8
    ).localCheckpoint(eager=True)
    stream = (
        table_stream(spark, sf, "documents")
        .filter(~is_bench)
        .select("doc_id", "text")
    )
    live = stream_contamination_totals(stream, bench_sh, n=8)
    return drain_to_memory(live, "t28_contamination").orderBy("bench_id")


@query(oracle=r"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+'))
                          END AS n_tokens,
                     md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS hh
              FROM documents),
            s AS (
              SELECT doc_id, n_tokens, hh,
                     CAST((ascii(substr(hh, 1, 1)) * 16
                           + ascii(substr(hh, 2, 1))) % 4 AS INT) AS shard
              FROM base WHERE n_tokens > 0),
            c AS (
              SELECT doc_id, shard, n_tokens,
                     sum(n_tokens) OVER (
                       PARTITION BY shard ORDER BY hh, doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
              FROM s)
            SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST((cum - n_tokens) // 256 AS BIGINT) AS seq_id,
                   CAST((cum - n_tokens) % 256 AS INT) AS offset,
                   CAST((cum - 1) // 256 - (cum - n_tokens) // 256 + 1 AS INT)
                     AS n_seqs_spanned
            FROM c
        """)
def q_curation_pack_sequences(spark, sf):
    """GPT-style token-stream packing: concat docs in deterministic
    shard order, cut every 256 tokens; per doc -> (shard, seq_id,
    offset, n_seqs_spanned). One windowed cumsum per shard."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    return curation.pack_sequences(docs, budget=256, n_shards=4, salt="epoch0")


# Flagship #2 replay: every export stage recomputed — exact
# dedup (min-id row_number over the normalized text), ws-count
# floor, md5 split, the unigram_lm_encode recursive-CTE Viterbi
# DP with seed pieces from the TRAIN split only, and packing
# totals as ceil-division per (split, md5-shard). Sums CAST to
# BIGINT everywhere (HUGEINT trap).
_TRAINING_EXPORT_REPORT_ORACLE_SQL = r"""
            WITH RECURSIVE
            d0 AS MATERIALIZED (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''),
                                    '[^\x20-\x7e]', '', 'g') AS t
              FROM documents),
            tok AS MATERIALIZED (
              SELECT doc_id, t,
                     CASE WHEN length(trim(t)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(t), '\s+')) END
                       AS ws
              FROM d0),
            dd AS MATERIALIZED (
              SELECT doc_id, t, ws FROM (
                SELECT doc_id, t, ws,
                       row_number() OVER (
                         PARTITION BY
                           lower(regexp_replace(trim(t), '\s+', ' ', 'g'))
                         ORDER BY doc_id) AS rn
                FROM tok) WHERE rn = 1),
            q AS MATERIALIZED (SELECT * FROM dd WHERE ws >= 5),
            sp AS MATERIALIZED (
              SELECT doc_id, t, ws,
                     CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                               < '1a'
                          THEN 'holdout' ELSE 'train' END AS split
              FROM q),
            stream AS MATERIALIZED (
              SELECT doc_id, split, w
              FROM (SELECT doc_id, split,
                           unnest(string_split_regex(lower(t), '\s+')) AS w
                    FROM sp)
              WHERE length(w) > 0),
            w0 AS (
              SELECT w, CAST(count(*) AS BIGINT) AS freq,
                     CAST(length(w) AS INT) AS wlen
              FROM stream WHERE split = 'train' AND length(w) <= 12
              GROUP BY w),
            occ2 AS (
              SELECT substr(w, s.i + 1, s.j - s.i) AS piece, freq
              FROM (SELECT w, freq, wlen,
                           unnest(flatten(list_transform(
                             generate_series(0, wlen - 1),
                             i -> list_transform(
                               generate_series(i + 1, least(i + 4, wlen)),
                               j -> {'i': i, 'j': j})))) AS s
                    FROM w0)),
            sc AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS n
                   FROM occ2 GROUP BY piece),
            p0 AS MATERIALIZED (
              SELECT piece FROM sc WHERE length(piece) = 1
              UNION ALL
              SELECT piece FROM (
                SELECT piece, n FROM sc
                WHERE length(piece) > 1 AND n >= 2
                ORDER BY n DESC, piece
                LIMIT 64)),
            venc AS (
              SELECT w, CAST(length(w) AS INT) AS wlen
              FROM (SELECT DISTINCT w FROM stream)
              WHERE length(w) <= 12),
            eg AS MATERIALIZED (
              SELECT o.w, any_value(o.wlen) AS wlen,
                     list(DISTINCT {'i': o.i, 'j': o.j}) AS edges
              FROM (SELECT w, wlen, s.i AS i, s.j AS j,
                           substr(w, s.i + 1, s.j - s.i) AS piece
                    FROM (SELECT w, wlen,
                                 unnest(flatten(list_transform(
                                   generate_series(0, wlen - 1),
                                   i -> list_transform(
                                     generate_series(i + 1,
                                                     least(i + 4, wlen)),
                                     j -> {'i': i, 'j': j})))) AS s
                          FROM venc)) o
              JOIN p0 p USING (piece)
              GROUP BY o.w),
            dp AS (
              SELECT w, wlen, 0 AS iter,
                     list_transform(generate_series(0, wlen),
                       p -> CASE WHEN p = 0 THEN 0
                                 ELSE 1048576 END) AS dp
              FROM eg
              UNION ALL
              SELECT d.w, d.wlen, d.iter + 1,
                     list_transform(generate_series(0, d.wlen),
                       p -> CASE WHEN p = d.iter + 1
                            THEN coalesce(list_min(list_transform(
                                   list_filter(x.edges,
                                     e -> e.j = d.iter + 1),
                                   e -> d.dp[e.i + 1] + 1)), 1048576)
                            ELSE d.dp[p + 1] END)
              FROM dp d JOIN eg x USING (w)
              WHERE d.iter < d.wlen),
            wk AS MATERIALIZED (
              SELECT w, dp[wlen + 1] AS k
              FROM dp WHERE iter = wlen),
            per AS MATERIALIZED (
              SELECT s.doc_id, any_value(s.split) AS split,
                     CAST(sum(CASE WHEN k IS NOT NULL AND k < 1048576
                              THEN k ELSE 0 END) AS BIGINT) AS lm
              FROM stream s LEFT JOIN wk USING (w)
              GROUP BY s.doc_id),
            pkdoc AS (
              SELECT split, lm,
                     CAST((ascii(substr(hh, 1, 1)) * 16
                           + ascii(substr(hh, 2, 1))) % 4 AS INT) AS shard
              FROM (SELECT split, lm,
                           md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS hh
                    FROM per WHERE lm > 0)),
            pksh AS (
              SELECT split, shard, count(*) AS d,
                     CAST(sum(lm) AS BIGINT) AS t
              FROM pkdoc GROUP BY split, shard),
            pk AS (
              SELECT split, CAST(sum(d) AS BIGINT) AS n_docs,
                     CAST(sum(t) AS BIGINT) AS n_tokens,
                     CAST(sum((t + 255) // 256) AS BIGINT) AS n_seqs
              FROM pksh GROUP BY split)
            SELECT 'input' AS stage, 'all' AS split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(coalesce(sum(ws), 0) AS BIGINT) AS n_tokens,
                   CAST(0 AS BIGINT) AS n_seqs
            FROM tok
            UNION ALL
            SELECT 'exact_dedup', 'all', CAST(count(*) AS BIGINT),
                   CAST(coalesce(sum(ws), 0) AS BIGINT), CAST(0 AS BIGINT)
            FROM dd
            UNION ALL
            SELECT 'quality_floor', 'all', CAST(count(*) AS BIGINT),
                   CAST(coalesce(sum(ws), 0) AS BIGINT), CAST(0 AS BIGINT)
            FROM q
            UNION ALL
            SELECT 'split', split, CAST(count(*) AS BIGINT),
                   CAST(sum(ws) AS BIGINT), CAST(0 AS BIGINT)
            FROM sp GROUP BY split
            UNION ALL
            SELECT 'encoded', split, CAST(count(*) AS BIGINT),
                   CAST(sum(lm) AS BIGINT), CAST(0 AS BIGINT)
            FROM per GROUP BY split
            UNION ALL
            SELECT 'packed', split, n_docs, n_tokens, n_seqs FROM pk
        """

@query(oracle=_TRAINING_EXPORT_REPORT_ORACLE_SQL)
def q_training_export_report(spark, sf):
    """Flagship #2 — the training-data EXPORT composition
    (plans.export): ascii-project -> exact dedup -> word-count floor ->
    leakage split (md5 < '1a' holdout) -> unigram-LM tokenize (seed
    pieces from the TRAIN split only — the oracle-tractable path; the
    production default runs hard-EM) -> budget-256 sequence packing on
    TOKENIZER counts. One accounting report: (stage, split, n_docs,
    n_tokens, n_seqs) with token CONSERVATION across encode/pack pinned
    by tests/test_export_plan.py. Oracle replays every stage: dedup
    row_number, the recursive-CTE Viterbi DP (unigram_lm_encode
    template scoped to train-split seeds), and ceil-division packing
    totals."""
    from pdf_to_vectordb_etl_spark.plans.export import export_training_data

    docs = _t(spark, sf, "documents")
    report, _, _ = export_training_data(docs, train_pieces_with_em=False)
    return report.select("stage", "split", "n_docs", "n_tokens", "n_seqs")


# PII detectors replayed value-for-value: identical RE2-safe
# patterns (no backrefs/lookaround), CRLF-canonicalized text on
# both sides.
_PII_REPORT_ORACLE_SQL = r"""
            WITH d AS (
              SELECT source,
                     regexp_replace(coalesce(text, ''), '\r\n?',
                                    chr(10), 'g') AS t
              FROM documents),
            c AS (
              SELECT source,
                     len(regexp_extract_all(t,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS n_email,
                     len(regexp_extract_all(t,
                       '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
                     len(regexp_extract_all(t,
                       '\+\d{1,3}[ -]?\(?\d{1,4}\)?(?:[ -]?\d{2,4}){2,3}'))
                       AS n_phone,
                     len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))
                       AS n_ssn,
                     len(regexp_extract_all(t,
                       '\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b')) AS n_card
              FROM d)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN n_email + n_ipv4 + n_phone
                                      + n_ssn + n_card > 0
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_docs_with_pii,
                   CAST(sum(n_email) AS BIGINT) AS n_email,
                   CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
                   CAST(sum(n_phone) AS BIGINT) AS n_phone,
                   CAST(sum(n_ssn) AS BIGINT) AS n_ssn,
                   CAST(sum(n_card) AS BIGINT) AS n_card
            FROM c GROUP BY source
        """

@query(oracle=_PII_REPORT_ORACLE_SQL)
def q_pii_report(spark, sf):
    """Per-source PII audit (RefinedWeb/C4-class scrub telemetry): doc
    counts, docs containing any PII, and total matches per detector
    (email/ipv4/phone/ssn/card — RE2-safe patterns, replayed
    value-for-value). One narrow regexp_count projection + one hash
    agg; scan-throughput at 100 TB."""
    from pdf_to_vectordb_etl_spark.operators import cleaning

    docs = _t(spark, sf, "documents")
    return cleaning.pii_report(docs, by="source")


@query(oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''), '\r\n?',
                                    chr(10), 'g') AS t
              FROM documents),
            l AS (
              SELECT DISTINCT doc_id, trim(line) AS line
              FROM (SELECT doc_id,
                           unnest(string_split(t, chr(10))) AS line
                    FROM d)
              WHERE length(trim(line)) >= 10)
            SELECT line, CAST(count(*) AS BIGINT) AS n_docs
            FROM l GROUP BY line HAVING count(*) >= 3
        """)
def q_boilerplate_lines(spark, sf):
    """Boilerplate line inventory: trimmed lines >= 10 chars occurring
    in >= 3 DISTINCT documents (cookie banners, footers) with document
    counts — the persisted artifact the strip pass consumes. Explode ->
    per-doc distinct -> one hash agg."""
    from pdf_to_vectordb_etl_spark.operators import cleaning

    docs = _t(spark, sf, "documents")
    return cleaning.frequent_lines(docs, min_docs=3, min_chars=10)


# string_agg skips the CASE's NULLs exactly like collect_list
# skips Spark's when()-without-otherwise — surviving lines keep
# original bytes, comparison is on trimmed values.
@query(oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''), '\r\n?',
                                    chr(10), 'g') AS t
              FROM documents),
            bl AS (
              SELECT line FROM (
                SELECT DISTINCT doc_id, trim(line) AS line
                FROM (SELECT doc_id,
                             unnest(string_split(t, chr(10))) AS line
                      FROM d)
                WHERE length(trim(line)) >= 10)
              GROUP BY line HAVING count(*) >= 3),
            ex AS (
              SELECT doc_id, line, pos FROM (
                SELECT doc_id,
                       unnest(string_split(t, chr(10))) AS line,
                       unnest(generate_series(
                         1, len(string_split(t, chr(10))))) AS pos
                FROM d)),
            m AS (
              SELECT e.doc_id, e.line, e.pos,
                     CASE WHEN b.line IS NULL THEN 0 ELSE 1 END AS dropped
              FROM ex e LEFT JOIN bl b ON trim(e.line) = b.line)
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN dropped = 0 THEN line END,
                                       chr(10) ORDER BY pos), '') AS text,
                   CAST(sum(dropped) AS BIGINT) AS n_lines_dropped
            FROM m GROUP BY doc_id
        """)
def q_strip_boilerplate(spark, sf):
    """Boilerplate line removal end-to-end: inventory -> strip ->
    re-assembled documents in original line order plus per-doc dropped
    counts (every input doc survives; all-boilerplate docs come back
    empty). The inventory is checkpointed — two consumers (the r5
    blocklist lesson)."""
    from pdf_to_vectordb_etl_spark.operators import cleaning

    docs = _t(spark, sf, "documents")
    fl = cleaning.frequent_lines(docs, min_docs=3, min_chars=10)
    fl = fl.localCheckpoint(eager=True)
    out = cleaning.strip_boilerplate_lines(docs, fl)
    return out.select("doc_id", "text", "n_lines_dropped")


@query(oracle=r"""
            WITH f AS (
              SELECT doc_id, lang,
                     length(text) AS n_chars,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text),
                         '\b(the|a|of|and|to|in|is|it)\b')) AS n_stop
              FROM documents),
            g AS (
              SELECT doc_id, lang,
                     CASE WHEN n_tokens > 0
                          THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens
                          ELSE 0.0 END AS mean_token_len,
                     CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars
                          ELSE 0.0 END AS punct_ratio,
                     CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens
                          ELSE 0.0 END AS stopword_ratio
              FROM f),
            sc AS (
              SELECT doc_id, lang,
                     round(least(stopword_ratio * 4, CAST(1.0 AS DOUBLE)) * 0.4
                           + CASE WHEN mean_token_len BETWEEN 3 AND 10
                                  THEN 0.4 ELSE 0.0 END
                           + CASE WHEN punct_ratio < 0.2
                                  THEN 0.2 ELSE 0.0 END, 6) AS score
              FROM g),
            cuts AS (
              SELECT lang, round(quantile_cont(score, 0.25), 6) AS cutoff
              FROM sc GROUP BY lang)
            SELECT doc_id, lang, score, cutoff
            FROM sc JOIN cuts USING (lang)
            WHERE score >= cutoff
        """)
def q_curation_quality_filter(spark, sf):
    """Relative quality filter: keep docs at/above their language's
    p25 quality score (per-group exact percentile cutoffs)."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    return curation.quality_quantile_filter(docs, q=0.25, by="lang")


@query(oracle="""
            WITH counts AS (
              SELECT source, count(*) AS n_docs,
                     CAST(CAST(substr(source, 4, 10) AS INT) % 3 + 1 AS DOUBLE)
                       AS weight
              FROM documents GROUP BY source),
            t AS (
              SELECT min(n_docs / weight) AS t FROM counts WHERE weight > 0)
            SELECT source, n_docs, weight,
                   CAST(least(n_docs,
                              CAST(floor(weight * t + 1e-9) AS BIGINT))
                        AS BIGINT) AS n_keep,
                   round(least(n_docs,
                               CAST(floor(weight * t + 1e-9) AS BIGINT))
                         * 1.0 / n_docs, 6) AS rate
            FROM counts CROSS JOIN t
        """)
def q_curation_mixture_plan(spark, sf):
    """Corpus mixture planning: weights 1..3 cycled over the numeric
    source suffix; T = min(n/w) feasibility; per-source keep counts and
    sampling rates."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    wt = (F.substring("source", 4, 10).cast("int") % 3 + 1).cast("double")
    return curation.mixture_plan(docs, wt, by="source")


@query(oracle="""
            WITH cent0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cluster_id,
                     CAST(embedding AS DOUBLE[]) AS centroid
              FROM (SELECT vec_id, embedding FROM embeddings
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8)),
            a1 AS (
              SELECT e.vec_id, e.embedding, c.cluster_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.embedding, c.centroid), 6) DESC,
                                c.cluster_id) AS rn
              FROM embeddings e CROSS JOIN cent0 c),
            m1 AS (
              SELECT cluster_id, unnest(range(len(embedding))) AS dim,
                     unnest(embedding) AS x
              FROM a1 WHERE rn = 1),
            d1 AS (SELECT cluster_id, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS c, count(*) AS n
                   FROM m1 GROUP BY cluster_id, dim),
            cent1 AS (SELECT cluster_id, list(c ORDER BY dim) AS centroid
                      FROM d1 GROUP BY cluster_id),
            a2 AS (
              SELECT e.vec_id, e.embedding, c.cluster_id,
                     row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.embedding, c.centroid), 6) DESC,
                                c.cluster_id) AS rn
              FROM embeddings e CROSS JOIN cent1 c),
            m2 AS (
              SELECT cluster_id, unnest(range(len(embedding))) AS dim,
                     unnest(embedding) AS x
              FROM a2 WHERE rn = 1),
            d2 AS (SELECT cluster_id, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS c, count(*) AS n
                   FROM m2 GROUP BY cluster_id, dim)
            SELECT cluster_id, n AS n_members, dim, c FROM d2
        """)
def q_kmeans_centroids(spark, sf):
    """Iterative Lloyd k-means (k=8, 2 rounds) over the embeddings
    table: deterministic md5-ranked init, rounded-cosine argmax assign,
    posexplode-once mean update, lineage truncated between rounds.
    Output exploded per (cluster, dim) so the hash is order-free.

    Centroids emit at their native 6-dp quantization, NOT re-rounded:
    re-rounding a 6-dp-grid value to 4 dp lands on exact .xx05
    boundaries ~1% of the time, where Spark's BigDecimal HALF_UP and
    DuckDB's multiply-based rounding disagree (observed at sf0.001 —
    0.02005 → 0.0201 vs 0.0200)."""
    from pdf_to_vectordb_etl_spark.operators import clustering

    # repartition: the literal-argmax assign is a pure projection
    # feeding a map-side partial agg — on this single-file corpus both
    # would otherwise run on ONE task (funnel lesson; no-op at scale)
    emb = _t(spark, sf, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    model = clustering.kmeans_fit(emb, k=8, n_iters=2)
    return model.select(
        "cluster_id",
        "n_members",
        F.posexplode("centroid").alias("dim", "c"),
    )


@query(oracle="""
            WITH b AS (
              SELECT CAST(min(user_id) AS DOUBLE) AS xlo,
                     CAST(max(user_id) AS DOUBLE) AS xhi,
                     min(value) AS ylo, max(value) AS yhi
              FROM events),
            s AS (
              SELECT event_id,
                     CAST(CASE WHEN xhi = xlo THEN 0 ELSE greatest(0, least(65535,
                       floor((CAST(user_id AS DOUBLE) - xlo) * 65535.0 / (xhi - xlo)))) END AS BIGINT) AS xs,
                     CAST(CASE WHEN yhi = ylo THEN 0 ELSE greatest(0, least(65535,
                       floor((value - ylo) * 65535.0 / (yhi - ylo)))) END AS BIGINT) AS ys
              FROM events, b),
            p1 AS (SELECT event_id,
                          (xs | (xs << 8)) & 16711935 AS x1,
                          (ys | (ys << 8)) & 16711935 AS y1 FROM s),
            p2 AS (SELECT event_id,
                          (x1 | (x1 << 4)) & 252645135 AS x2,
                          (y1 | (y1 << 4)) & 252645135 AS y2 FROM p1),
            p3 AS (SELECT event_id,
                          (x2 | (x2 << 2)) & 858993459 AS x3,
                          (y2 | (y2 << 2)) & 858993459 AS y3 FROM p2),
            p4 AS (SELECT event_id,
                          (x3 | (x3 << 1)) & 1431655765 AS x4,
                          (y3 | (y3 << 1)) & 1431655765 AS y4 FROM p3)
            SELECT event_id, x4 | (y4 << 1) AS z FROM p4
        """)
def q_zorder_key(spark, sf):
    """Morton (Z-order) clustering key over (user_id, value): min-max
    scale each to 16 bits, interleave with magic-number shifts — all
    codegen integer math. The key drives write_zordered's range
    clustering; emitted here per event so the oracle can replay the
    exact bit math."""
    from pdf_to_vectordb_etl_spark.operators import zorder

    ev = _t(spark, sf, "events").select("event_id", "user_id", "value")
    return zorder.zorder_key(ev, "user_id", "value", "z").select(
        "event_id", "z"
    )


@query(oracle=r"""
            WITH raw AS (
              SELECT doc_id,
                     'HTTPS://WWW.' || source || '.Example.CO.UK:443/docs/'
                       || CAST(doc_id AS VARCHAR) || '?utm_source=feed&id='
                       || CAST(doc_id AS VARCHAR) || '&utm_campaign=x#frag' AS u,
                     '<html><body><p class="x">' || substr(text, 1, 80)
                       || ' &amp; <!-- c --> tail</p></body></html>' AS h
              FROM documents),
            cu AS (
              SELECT doc_id, h,
                     lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
                       || regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS c1
              FROM raw),
            c2 AS (SELECT doc_id, h,
                          regexp_replace(c1, '^([a-z0-9+.-]+://)www\.', '\1') AS c FROM cu),
            c3 AS (SELECT doc_id, h,
                          regexp_replace(c, '^([a-z0-9+.-]+://[^/?#:]+):(?:80|443)([/?#].*)?$', '\1\2') AS c FROM c2),
            c4 AS (SELECT doc_id, h, regexp_replace(c, '#.*$', '') AS c FROM c3),
            c5 AS (SELECT doc_id, h,
                          regexp_replace(c, '([?&])(?:utm_[a-z]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)=[^&#]*', '\1', 'g') AS c FROM c4),
            c6 AS (SELECT doc_id, h, regexp_replace(c, '[?&]+$', '') AS c FROM c5),
            c7 AS (SELECT doc_id, h, regexp_replace(c, '\?&', '?') AS c FROM c6),
            c8 AS (SELECT doc_id, h, regexp_replace(regexp_replace(c, '&&+', '&', 'g'), '/$', '') AS c FROM c7),
            host AS (
              SELECT doc_id, c AS canonical_url, h,
                     regexp_replace(regexp_replace(
                       lower(regexp_extract(c, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
                       ':[0-9]+$', ''), '^www\.', '') AS hst
              FROM c8),
            dom AS (
              SELECT doc_id, canonical_url, h,
                     CASE WHEN regexp_extract(hst, '([^.]+\.(?:co\.uk|org\.uk|ac\.uk|gov\.uk|com\.au|net\.au|org\.au|com\.br|com\.mx|co\.jp|co\.kr|co\.in|com\.cn|com\.tw|com\.sg|co\.nz|co\.za|com\.ar|com\.tr))$', 1) <> ''
                          THEN regexp_extract(hst, '([^.]+\.(?:co\.uk|org\.uk|ac\.uk|gov\.uk|com\.au|net\.au|org\.au|com\.br|com\.mx|co\.jp|co\.kr|co\.in|com\.cn|com\.tw|com\.sg|co\.nz|co\.za|com\.ar|com\.tr))$', 1)
                          ELSE regexp_extract(hst, '([^.]+\.[^.]+)$', 1) END AS domain
              FROM host),
            ent AS (
              SELECT doc_id, canonical_url, domain,
                     replace(replace(replace(replace(replace(replace(replace(
                       regexp_replace(regexp_replace(h, '<!--.*?-->', ' ', 'g'), '<[^>]*>', ' ', 'g'),
                       '&nbsp;', ' '), '&quot;', '"'), '&#39;', CHR(39)), '&apos;', CHR(39)),
                       '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS t
              FROM dom)
            SELECT doc_id, canonical_url, domain,
                   trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text
            FROM ent
        """)
def q_web_clean(spark, sf):
    """Web-corpus hygiene: canonical URL + registrable domain + markup
    strip, all RE2-safe native regexp chains. Inputs are deterministic
    synthetic URLs/HTML built from the documents table (the corpus has
    no web columns), so the oracle rebuilds byte-identical inputs and
    replays the same chain."""
    from pdf_to_vectordb_etl_spark.operators import webcorpus

    docs = _t(spark, sf, "documents")
    did = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.CO.UK:443/docs/"),
        did, F.lit("?utm_source=feed&id="), did, F.lit("&utm_campaign=x#frag"),
    )
    html = F.concat(
        F.lit('<html><body><p class="x">'), F.substring("text", 1, 80),
        F.lit(" &amp; <!-- c --> tail</p></body></html>"),
    )
    d = docs.select("doc_id", url.alias("u"), html.alias("h"))
    return d.select(
        "doc_id",
        webcorpus.canonicalize_url(F.col("u")).alias("canonical_url"),
        webcorpus.registrable_domain(F.col("u")).alias("domain"),
        webcorpus.strip_markup(F.col("h")).alias("clean_text"),
    )


@query(oracle="""
            WITH b AS (
              SELECT source, substr(md5(CAST(source AS VARCHAR)), 1, 4) AS h
              FROM documents)
            SELECT CASE WHEN h < 'cccd' THEN 'train'
                        WHEN h < 'e666' THEN 'val'
                        ELSE 'test' END AS split,
                   source, count(*) AS n_docs
            FROM b GROUP BY 1, 2
        """)
def q_grouped_split(spark, sf):
    """Leakage-aware dataset split: whole source-groups assigned to
    train/val/test by md5 of the GROUP key, so correlated docs never
    straddle splits. Narrow, layout-invariant."""
    docs = _t(spark, sf, "documents")
    s = sampling.grouped_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    return s.groupBy("split", "source").agg(F.count("*").alias("n_docs"))


@query(oracle=r"""
            WITH sh AS (
              SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
              FROM (SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w FROM documents)),
            ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) * 1.0 / least(any_value(a.n), any_value(b.n)) AS c
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b, round(c, 4) AS containment FROM pairs WHERE c >= 0.5
        """)
def q_dedup_containment(spark, sf):
    """Quote/excerpt detection: trigram containment |A∩B|/min(|A|,|B|)
    over the inverted-index candidate join — catches subset relations
    Jaccard scores near zero."""
    pairs = dedup.ngram_containment_pairs(
        _t(spark, sf, "documents"), threshold=0.5
    )
    return pairs.select(
        "id_a", "id_b", F.round("containment", 4).alias("containment")
    )


@query(oracle=r"""
            WITH s0 AS (
              SELECT doc_id,
                     string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(31), 'g'), chr(31)) AS raw
              FROM documents),
            s1 AS (SELECT doc_id, list_filter(raw, x -> trim(x) <> '') AS sents FROM s0),
            ex AS (
              SELECT doc_id, unnest(range(len(sents))) AS pos,
                     unnest(sents) AS sent, len(sents) AS n
              FROM s1 WHERE len(sents) > 0),
            mem AS (
              SELECT doc_id, pos, sent, n,
                     unnest(generate_series(
                       greatest(0, CAST(ceil((pos - 4) / 4.0) AS BIGINT)),
                       pos // 4)) AS chunk_id
              FROM ex),
            kept AS (SELECT * FROM mem WHERE chunk_id = 0 OR chunk_id * 4 < n - 1)
            SELECT doc_id, chunk_id,
                   string_agg(sent, ' ' ORDER BY pos) AS chunk_text,
                   count(*) AS n_sentences
            FROM kept GROUP BY doc_id, chunk_id
        """)
def q_sentence_chunks(spark, sf):
    """RAG-style sentence-window chunking: 5-sentence windows, 1-sentence
    overlap, sentence boundaries marked lookbehind-free so the oracle
    replays them. Explode-once plan; ordered rebuild in one groupBy."""
    from pdf_to_vectordb_etl_spark.operators import chunking

    docs = _t(spark, sf, "documents")
    return chunking.sentence_chunks(docs, sentences_per_chunk=5, overlap=1)


@query(oracle="""
            WITH cs AS (
              SELECT list_transform(
                       quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                             0.6, 0.7, 0.8, 0.9]),
                       c -> round(c, 6)) AS cs
              FROM events),
            b AS (
              SELECT value,
                     1 + len(list_filter(cs, c -> value > c)) AS bucket
              FROM events, cs)
            SELECT bucket, count(*) AS n,
                   round(min(value), 4) AS lo,
                   round(max(value), 4) AS hi,
                   floor(CAST(sum(CASE WHEN NOT isnan(value)
                               THEN CAST(floor(value * 100 + 0.5)
                                         AS BIGINT) END) AS DOUBLE)
                         / count(CASE WHEN NOT isnan(value) THEN 1 END))
                     / 100.0 + 0.0 AS avg_value
            FROM b GROUP BY bucket
        """)
def q_histogram_equidepth(spark, sf):
    """Equi-DEPTH histogram (decile buckets) over event values — NO
    global sort: 9 exact decile cutpoints from one ``percentile``
    aggregate, broadcast back as a 1-row cross join, bucket assigned by
    counting cutpoints below the value. Scales: the aggregate is a
    partial-combinable reduction and the per-row bucketing is narrow —
    unlike a global-window ``ntile`` that funnels the corpus through a
    single task. Ties share a bucket (value-based, not rank-based), so
    depths are approximately-equal rather than exactly N/10; cutpoints
    rounded to 6 decimals on both engines so the oracle agrees."""
    ev = _t(spark, sf, "events")
    cuts = ev.agg(
        F.transform(
            F.percentile("value", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])),
            lambda c: F.round(c, 6),
        ).alias("cs")
    )
    b = ev.crossJoin(F.broadcast(cuts)).select(
        (
            1
            + F.aggregate(
                "cs",
                F.lit(0),
                lambda acc, c: acc + F.when(F.col("value") > c, 1).otherwise(0),
            )
        ).alias("bucket"),
        "value",
    )
    # bucket mean from exact cents (r9 port — 2-dp-grid values make
    # round(avg) land ON half-up boundaries; order-free integer sum)
    q = F.when(
        ~F.isnan(F.col("value")), F.floor(F.col("value") * 100 + F.lit(0.5))
    ).cast("long")
    return b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 4).alias("lo"),
        F.round(F.max("value"), 4).alias("hi"),
        (
            F.floor(F.sum(q).cast("double") / F.count(q)) / 100.0 + 0.0
        ).alias("avg_value"),
    )


@query(oracle="""
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
            flg AS (
              SELECT user_id, event_id, tus,
                     CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id
                              ORDER BY tus, event_id) > 1800000000
                          OR lag(tus) OVER (PARTITION BY user_id
                              ORDER BY tus, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_s
              FROM e),
            isl AS (
              SELECT user_id, tus,
                     sum(new_s) OVER (PARTITION BY user_id
                         ORDER BY tus, event_id
                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM flg)
            SELECT user_id, min(tus) AS session_start_us,
                   count(*) AS n_events,
                   max(tus) - min(tus) AS span_us
            FROM isl GROUP BY user_id, sid
        """)
def q_sessionize_native(spark, sf):
    """Same 30-min-gap sessions as sessionize_batch, but via Spark's
    BUILT-IN session_window aggregate (merging session windows inside
    one aggregation — no explicit lag/cumsum plumbing). Prefer the
    built-in where it expresses the semantics; the islands form remains
    for engines/cases without it. Oracle = the islands SQL, proving the
    two formulations agree row-for-row."""
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id",
        F.timestamp_micros(F.expr("ts div 1000")).alias("t"),
    )
    s = ev.groupBy("user_id", F.session_window("t", "30 minutes")).agg(
        F.count("*").alias("n_events"),
        (
            F.unix_micros(F.max("t")) - F.unix_micros(F.min("t"))
        ).alias("span_us"),
    )
    return s.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        "n_events",
        "span_us",
    ).orderBy("user_id", "session_start_us")


@query(oracle="""
            WITH base AS (SELECT * FROM events WHERE event_id % 2 = 0),
            snap AS (
              SELECT user_id, arg_max(event_type, event_id) AS event_type,
                     arg_max(value, event_id) AS value
              FROM base GROUP BY user_id),
            chg AS (
              SELECT user_id, event_type, value,
                     CASE WHEN value < 5 THEN 'delete' ELSE 'upsert' END AS op,
                     event_id AS ord
              FROM events WHERE event_id % 2 = 1),
            uni AS (
              SELECT user_id, CAST(NULL AS VARCHAR) AS op,
                     CAST(-4611686018427387904 AS BIGINT) AS ord,
                     event_type, value
              FROM snap
              UNION ALL
              SELECT user_id, op, ord, event_type, value FROM chg),
            win AS (
              SELECT user_id,
                     max(ord) AS mord,
                     arg_max(event_type, ord) AS event_type,
                     arg_max(value, ord) AS value
              FROM uni GROUP BY user_id),
            lastop AS (
              SELECT w.user_id, w.event_type, w.value, u.op
              FROM win w JOIN uni u
                ON u.user_id = w.user_id AND u.ord = w.mord)
            SELECT user_id, event_type, round(value, 4) AS value
            FROM lastop WHERE op IS NULL OR op <> 'delete'
        """)
def q_cdc_apply_changes(spark, sf):
    """CDC MERGE: apply an insert/upsert/delete change batch onto a
    snapshot — one max_by aggregation over the union, O(snapshot +
    batch), deletes drop the key. Even event_ids form the base
    snapshot, odd ones the change batch (value < 5 => delete)."""
    from pdf_to_vectordb_etl_spark.operators import cdc

    ev = _t(spark, sf, "events").select("event_id", "user_id", "event_type", "value")
    base = ev.filter(F.col("event_id") % 2 == 0)
    snapshot = base.groupBy("user_id").agg(
        F.max_by("event_type", "event_id").alias("event_type"),
        F.max_by("value", "event_id").alias("value"),
    )
    changes = ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id", "event_type", "value",
        F.when(F.col("value") < 5, F.lit("delete")).otherwise(F.lit("upsert")).alias("op"),
        F.col("event_id").alias("ord"),
    )
    out = cdc.apply_changes(snapshot, changes, ["user_id"], "ord")
    return out.select("user_id", "event_type", F.round("value", 4).alias("value"))


@query(oracle="""
            SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_size <= 10
              AND l.l_quantity < (
                SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                WHERE l2.l_partkey = l.l_partkey)
        """)
def q_small_qty_revenue(spark, sf):
    """TPC-H Q17 class — correlated scalar subquery: revenue of line
    items ordering below 20% of their part's average quantity. Written
    AS the correlated form; Catalyst decorrelates it into an aggregate
    + join (no per-row re-scan), which is the point: declare the
    semantics, let the planner pick the join."""
    _t(spark, sf, "lineitem").createOrReplaceTempView("li_q17")
    _t(spark, sf, "part").createOrReplaceTempView("part_q17")
    return spark.sql("""
        SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM li_q17 l JOIN part_q17 p ON p.p_partkey = l.l_partkey
        WHERE p.p_size <= 10
          AND l.l_quantity < (
            SELECT 0.2 * avg(l2.l_quantity) FROM li_q17 l2
            WHERE l2.l_partkey = l.l_partkey)
    """)


@query(oracle="""
            WITH a AS (
              SELECT count(*) AS n,
                     count_if(doc_id IS NULL) AS v0,
                     count_if(NOT coalesce(n_chars = length(text), FALSE)) AS v1,
                     count_if(NOT coalesce(length(text) > 0, FALSE)) AS v2,
                     count_if(NOT coalesce(lang IN ('en','de','fr','es','zh'), FALSE)) AS v3
              FROM documents)
            SELECT name, n AS n_rows, CAST(v AS BIGINT) AS n_violations,
                   round(v * 1.0 / n, 6) AS violation_rate,
                   CAST(mx AS DOUBLE) AS max_violation_rate,
                   (v * 1.0 / n) > mx AS breached
            FROM (
              SELECT 'doc_id_not_null' AS name, n, v0 AS v, 0.0 AS mx FROM a
              UNION ALL
              SELECT 'n_chars_matches_text', n, v1, 0.0 FROM a
              UNION ALL
              SELECT 'text_nonempty', n, v2, 0.0 FROM a
              UNION ALL
              SELECT 'lang_known', n, v3, 0.5 FROM a)
        """)
def q_quality_expectations(spark, sf):
    """Data-quality expectations: N checks, ONE aggregate pass, a tiny
    report frame out (name, counts, rates, breached). The contract
    checks run here against the documents corpus."""
    from pdf_to_vectordb_etl_spark.operators.quality_checks import (
        Expectation,
        check_report,
    )

    docs = _t(spark, sf, "documents")
    exps = [
        Expectation("doc_id_not_null", F.col("doc_id").isNotNull()),
        Expectation("n_chars_matches_text", F.col("n_chars") == F.length("text")),
        Expectation("text_nonempty", F.length("text") > 0),
        Expectation(
            "lang_known",
            F.col("lang").isin("en", "de", "fr", "es", "zh"),
            max_violation_rate=0.5,
        ),
    ]
    return check_report(docs, exps)


@query(oracle="""
            WITH e AS (
              SELECT user_id, epoch_us(ts) // 86400000000 AS bucket, value
              FROM events),
            b AS (
              SELECT user_id, bucket, floor(avg(value) * 10000) / 10000 AS v
              FROM e GROUP BY user_id, bucket),
            span AS (
              SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
              FROM b GROUP BY user_id),
            grid AS (
              SELECT user_id, unnest(generate_series(lo, hi)) AS bucket
              FROM span),
            dense AS (
              SELECT g.user_id, g.bucket, b.v
              FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.bucket = g.bucket)
            SELECT user_id, bucket * 86400000000 AS bucket_start,
                   v IS NOT NULL AS observed,
                   last_value(v IGNORE NULLS) OVER (
                     PARTITION BY user_id ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
            FROM dense
        """)
def q_resample_locf(spark, sf):
    """Time-series resampling: daily grid per user, avg value per
    bucket, LOCF carry across empty days. Grid densification via
    sequence-explode; one LOCF window; rounding before the fill keeps
    carried values engine-identical."""
    ev = _t(spark, sf, "events").select(
        "user_id", F.expr("ts div 1000").alias("tus"), "value"
    )
    out = aggregates.resample_locf(
        ev, time_col="tus", by="user_id", value_col="value",
        step=86_400_000_000,
    )
    return out


_PQ_ORACLE = """
WITH
            sub0 AS (SELECT vec_id, embedding[1:16] AS v FROM embeddings),
            init0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cid, CAST(v AS DOUBLE[]) AS c
              FROM (SELECT vec_id, v FROM sub0
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
            a0 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub0 s CROSS JOIN init0 c),
            x0 AS (SELECT cid, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM a0 WHERE rn = 1),
            d0 AS (SELECT cid, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS cd FROM x0 GROUP BY cid, dim),
            cent0 AS (SELECT cid, list(cd ORDER BY dim) AS c FROM d0 GROUP BY cid),
            e0 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub0 s CROSS JOIN cent0 c),
            y0 AS (SELECT cid, vec_id, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM e0 WHERE rn = 1),
            r0 AS (
              SELECT y.vec_id, y.cid,
                     sum(CAST(floor((CAST(y.x AS DOUBLE) - d.cd) * (CAST(y.x AS DOUBLE) - d.cd) * 1000000000000) AS BIGINT)) AS sq
              FROM y0 y JOIN d0 d ON d.cid = y.cid AND d.dim = y.dim
              GROUP BY y.vec_id, y.cid),
            sub1 AS (SELECT vec_id, embedding[17:32] AS v FROM embeddings),
            init1 AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cid, CAST(v AS DOUBLE[]) AS c
              FROM (SELECT vec_id, v FROM sub1
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
            a1 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub1 s CROSS JOIN init1 c),
            x1 AS (SELECT cid, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM a1 WHERE rn = 1),
            d1 AS (SELECT cid, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS cd FROM x1 GROUP BY cid, dim),
            cent1 AS (SELECT cid, list(cd ORDER BY dim) AS c FROM d1 GROUP BY cid),
            e1 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub1 s CROSS JOIN cent1 c),
            y1 AS (SELECT cid, vec_id, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM e1 WHERE rn = 1),
            r1 AS (
              SELECT y.vec_id, y.cid,
                     sum(CAST(floor((CAST(y.x AS DOUBLE) - d.cd) * (CAST(y.x AS DOUBLE) - d.cd) * 1000000000000) AS BIGINT)) AS sq
              FROM y1 y JOIN d1 d ON d.cid = y.cid AND d.dim = y.dim
              GROUP BY y.vec_id, y.cid),
            sub2 AS (SELECT vec_id, embedding[33:48] AS v FROM embeddings),
            init2 AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cid, CAST(v AS DOUBLE[]) AS c
              FROM (SELECT vec_id, v FROM sub2
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
            a2 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub2 s CROSS JOIN init2 c),
            x2 AS (SELECT cid, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM a2 WHERE rn = 1),
            d2 AS (SELECT cid, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS cd FROM x2 GROUP BY cid, dim),
            cent2 AS (SELECT cid, list(cd ORDER BY dim) AS c FROM d2 GROUP BY cid),
            e2 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub2 s CROSS JOIN cent2 c),
            y2 AS (SELECT cid, vec_id, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM e2 WHERE rn = 1),
            r2 AS (
              SELECT y.vec_id, y.cid,
                     sum(CAST(floor((CAST(y.x AS DOUBLE) - d.cd) * (CAST(y.x AS DOUBLE) - d.cd) * 1000000000000) AS BIGINT)) AS sq
              FROM y2 y JOIN d2 d ON d.cid = y.cid AND d.dim = y.dim
              GROUP BY y.vec_id, y.cid),
            sub3 AS (SELECT vec_id, embedding[49:64] AS v FROM embeddings),
            init3 AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cid, CAST(v AS DOUBLE[]) AS c
              FROM (SELECT vec_id, v FROM sub3
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
            a3 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub3 s CROSS JOIN init3 c),
            x3 AS (SELECT cid, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM a3 WHERE rn = 1),
            d3 AS (SELECT cid, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS cd FROM x3 GROUP BY cid, dim),
            cent3 AS (SELECT cid, list(cd ORDER BY dim) AS c FROM d3 GROUP BY cid),
            e3 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub3 s CROSS JOIN cent3 c),
            y3 AS (SELECT cid, vec_id, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM e3 WHERE rn = 1),
            r3 AS (
              SELECT y.vec_id, y.cid,
                     sum(CAST(floor((CAST(y.x AS DOUBLE) - d.cd) * (CAST(y.x AS DOUBLE) - d.cd) * 1000000000000) AS BIGINT)) AS sq
              FROM y3 y JOIN d3 d ON d.cid = y.cid AND d.dim = y.dim
              GROUP BY y.vec_id, y.cid)

              SELECT 0 AS subspace, count(DISTINCT cid) AS n_codes_used,
                     floor(CAST(sum(sq) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 100000000.0)) / 1e4 + 0.0 AS avg_sq_err
              FROM r0
              UNION ALL
              SELECT 1 AS subspace, count(DISTINCT cid) AS n_codes_used,
                     floor(CAST(sum(sq) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 100000000.0)) / 1e4 + 0.0 AS avg_sq_err
              FROM r1
              UNION ALL
              SELECT 2 AS subspace, count(DISTINCT cid) AS n_codes_used,
                     floor(CAST(sum(sq) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 100000000.0)) / 1e4 + 0.0 AS avg_sq_err
              FROM r2
              UNION ALL
              SELECT 3 AS subspace, count(DISTINCT cid) AS n_codes_used,
                     floor(CAST(sum(sq) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 100000000.0)) / 1e4 + 0.0 AS avg_sq_err
              FROM r3
"""

@query(oracle=_PQ_ORACLE)
def q_pq_reconstruction(spark, sf):
    """Product quantization quality gate: train m=4 x k=16 codebooks
    (one Lloyd round per subspace) over the embeddings table, then
    report codes-used and mean squared reconstruction error per
    subspace — the decide-before-rewrite metric for PQ compression."""
    from pdf_to_vectordb_etl_spark.operators import quantization as pq

    emb = _t(spark, sf, "embeddings")
    books = pq.pq_train(emb, m=4, k=16, n_iters=1, dim=64)
    return pq.pq_reconstruction_report(emb, books)


_PQ_ADC_ORACLE = """
WITH
            sub0 AS (SELECT vec_id, embedding[1:16] AS v FROM embeddings),
            init0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cid, CAST(v AS DOUBLE[]) AS c
              FROM (SELECT vec_id, v FROM sub0
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
            a0 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub0 s CROSS JOIN init0 c),
            x0 AS (SELECT cid, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM a0 WHERE rn = 1),
            d0 AS (SELECT cid, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS cd FROM x0 GROUP BY cid, dim),
            cent0 AS (SELECT cid, list(cd ORDER BY dim) AS c FROM d0 GROUP BY cid),
            e0 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub0 s CROSS JOIN cent0 c),
            qs0 AS (SELECT unnest(range(16)) AS dim, unnest(embedding[1:16]) AS qx
                      FROM embeddings WHERE vec_id = 0),
            t0 AS (SELECT d.cid,
                            sum(CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT)
                                * CAST(floor(CAST(q.qx AS DOUBLE) * 1000000.0) AS BIGINT)) AS dot,
                            sum(CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT) * CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT)) AS n2
                     FROM d0 d JOIN qs0 q ON q.dim = d.dim GROUP BY d.cid),
            s0 AS (SELECT e.vec_id, t.dot, t.n2
                     FROM (SELECT vec_id, cid FROM e0 WHERE rn = 1) e
                     JOIN t0 t ON t.cid = e.cid),
            sub1 AS (SELECT vec_id, embedding[17:32] AS v FROM embeddings),
            init1 AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cid, CAST(v AS DOUBLE[]) AS c
              FROM (SELECT vec_id, v FROM sub1
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
            a1 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub1 s CROSS JOIN init1 c),
            x1 AS (SELECT cid, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM a1 WHERE rn = 1),
            d1 AS (SELECT cid, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS cd FROM x1 GROUP BY cid, dim),
            cent1 AS (SELECT cid, list(cd ORDER BY dim) AS c FROM d1 GROUP BY cid),
            e1 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub1 s CROSS JOIN cent1 c),
            qs1 AS (SELECT unnest(range(16)) AS dim, unnest(embedding[17:32]) AS qx
                      FROM embeddings WHERE vec_id = 0),
            t1 AS (SELECT d.cid,
                            sum(CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT)
                                * CAST(floor(CAST(q.qx AS DOUBLE) * 1000000.0) AS BIGINT)) AS dot,
                            sum(CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT) * CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT)) AS n2
                     FROM d1 d JOIN qs1 q ON q.dim = d.dim GROUP BY d.cid),
            s1 AS (SELECT e.vec_id, t.dot, t.n2
                     FROM (SELECT vec_id, cid FROM e1 WHERE rn = 1) e
                     JOIN t1 t ON t.cid = e.cid),
            sub2 AS (SELECT vec_id, embedding[33:48] AS v FROM embeddings),
            init2 AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cid, CAST(v AS DOUBLE[]) AS c
              FROM (SELECT vec_id, v FROM sub2
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
            a2 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub2 s CROSS JOIN init2 c),
            x2 AS (SELECT cid, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM a2 WHERE rn = 1),
            d2 AS (SELECT cid, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS cd FROM x2 GROUP BY cid, dim),
            cent2 AS (SELECT cid, list(cd ORDER BY dim) AS c FROM d2 GROUP BY cid),
            e2 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub2 s CROSS JOIN cent2 c),
            qs2 AS (SELECT unnest(range(16)) AS dim, unnest(embedding[33:48]) AS qx
                      FROM embeddings WHERE vec_id = 0),
            t2 AS (SELECT d.cid,
                            sum(CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT)
                                * CAST(floor(CAST(q.qx AS DOUBLE) * 1000000.0) AS BIGINT)) AS dot,
                            sum(CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT) * CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT)) AS n2
                     FROM d2 d JOIN qs2 q ON q.dim = d.dim GROUP BY d.cid),
            s2 AS (SELECT e.vec_id, t.dot, t.n2
                     FROM (SELECT vec_id, cid FROM e2 WHERE rn = 1) e
                     JOIN t2 t ON t.cid = e.cid),
            sub3 AS (SELECT vec_id, embedding[49:64] AS v FROM embeddings),
            init3 AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cid, CAST(v AS DOUBLE[]) AS c
              FROM (SELECT vec_id, v FROM sub3
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)),
            a3 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub3 s CROSS JOIN init3 c),
            x3 AS (SELECT cid, unnest(range(len(v))) AS dim, unnest(v) AS x
                     FROM a3 WHERE rn = 1),
            d3 AS (SELECT cid, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS cd FROM x3 GROUP BY cid, dim),
            cent3 AS (SELECT cid, list(cd ORDER BY dim) AS c FROM d3 GROUP BY cid),
            e3 AS (
              SELECT s.vec_id, s.v, c.cid,
                     row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.c), 6) DESC, c.cid) AS rn
              FROM sub3 s CROSS JOIN cent3 c),
            qs3 AS (SELECT unnest(range(16)) AS dim, unnest(embedding[49:64]) AS qx
                      FROM embeddings WHERE vec_id = 0),
            t3 AS (SELECT d.cid,
                            sum(CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT)
                                * CAST(floor(CAST(q.qx AS DOUBLE) * 1000000.0) AS BIGINT)) AS dot,
                            sum(CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT) * CAST(floor(d.cd * 1000000.0 + 0.5) AS BIGINT)) AS n2
                     FROM d3 d JOIN qs3 q ON q.dim = d.dim GROUP BY d.cid),
            s3 AS (SELECT e.vec_id, t.dot, t.n2
                     FROM (SELECT vec_id, cid FROM e3 WHERE rn = 1) e
                     JOIN t3 t ON t.cid = e.cid),
            qn AS (SELECT sum(CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
                              * CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qn2
                   FROM (SELECT unnest(embedding) AS x FROM embeddings WHERE vec_id = 0)),
            alls AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
                     UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3),
            sc AS (SELECT vec_id,
                          CASE WHEN (SELECT qn2 FROM qn) = 0 THEN -1.0
                               ELSE floor(CAST(sum(dot) AS DOUBLE)
                                    / (sqrt(greatest(CAST(sum(n2) AS DOUBLE),
                                                     1e-12))
                                    * sqrt(CAST((SELECT qn2 FROM qn)
                                                AS DOUBLE))) * 1000000.0)
                                    / 1e6 + 0.0
                          END AS adc6
                   FROM alls GROUP BY vec_id)
            SELECT vec_id, floor(adc6 * 10000) / 1e4 + 0.0 AS adc_sim
            FROM sc ORDER BY adc6 DESC, vec_id LIMIT 20
"""

@query(oracle=_PQ_ADC_ORACLE)
def q_pq_adc_topk(spark, sf):
    """Similarity search over COMPRESSED vectors: PQ-encode the corpus,
    then rank by asymmetric distance (m table lookups per row, never a
    full vector) for the vec_id=0 query; top-20 with rounded-score +
    id tiebreak so the cut is engine-stable."""
    from pdf_to_vectordb_etl_spark.operators import quantization as pq

    emb = _t(spark, sf, "embeddings")
    books = pq.pq_train(emb, m=4, k=16, n_iters=1, dim=64)
    codes = pq.pq_encode(emb, books)
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    top = pq.pq_topk(codes, books, list(query), k=20)
    # floor-quantize the already-lattice q6 score onto the 4-dp report
    # grid (round() split on a .xxx95 half-up boundary at sf0.1 — r9)
    return top.select(
        "vec_id",
        (F.floor(F.col("adc_sim") * 10000) / 1e4 + 0.0).alias("adc_sim"),
    )


def _ivfpq_oracle_sql(
    n_lists: int = 8, m: int = 4, k: int = 16, sub_dim: int = 16,
    dim: int = 64, n_probe: int = 4, topk: int = 10,
) -> str:
    """Full DuckDB replay of ivfpq_build + ivfpq_topk: md5-sampled
    coarse centroids, 6-dp-rounded cosine list assignment, per-subspace
    residual k-means (md5 init, one Lloyd pass, L2 argmin on 6-dp
    rounded squared distance, 6-dp-rounded means), nearest-code
    encoding, then cosine of the explicitly reconstructed vector
    (exactly equal to the ADC lookup algebra — pinned by
    tests/test_scale_ops.py::test_ivfpq_scores_equal_explicit_
    reconstruction). Generated per subspace to stay maintainable."""
    sq = (
        "list_sum(list_transform(generate_series(1, {d}),"
        " i -> (s.v[i] - c.c[i]) * (s.v[i] - c.c[i])))"
    ).format(d=sub_dim)
    blocks = []
    for j in range(m):
        lo, hi = j * sub_dim + 1, (j + 1) * sub_dim
        blocks.append(f"""
            rs{j} AS (SELECT vec_id, r[{lo}:{hi}] AS v FROM resid),
            init{j} AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cid, v AS c
              FROM (SELECT vec_id, v FROM rs{j}
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})),
            a{j} AS (
              SELECT vec_id, v, cid FROM (
                SELECT s.vec_id, s.v, c.cid,
                       row_number() OVER (PARTITION BY s.vec_id
                         ORDER BY round({sq}, 6) ASC, c.cid) AS rn
                FROM rs{j} s CROSS JOIN init{j} c)
              WHERE rn = 1),
            x{j} AS (SELECT cid, unnest(generate_series(1, {sub_dim})) AS dim,
                            unnest(v) AS x
                     FROM a{j}),
            d{j} AS (SELECT cid, dim, floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE) / count(*)) / 1e6 + 0.0 AS cd
                     FROM x{j} GROUP BY cid, dim),
            cent{j} AS (SELECT cid, list(cd ORDER BY dim) AS c
                        FROM d{j} GROUP BY cid),
            e{j} AS (
              SELECT vec_id, cid AS code{j} FROM (
                SELECT s.vec_id, c.cid,
                       row_number() OVER (PARTITION BY s.vec_id
                         ORDER BY round({sq}, 6) ASC, c.cid) AS rn
                FROM rs{j} s CROSS JOIN cent{j} c)
              WHERE rn = 1),
            cb{j} AS (SELECT e{j}.vec_id, cent{j}.c AS cb
                      FROM e{j} JOIN cent{j} ON cent{j}.cid = e{j}.code{j})""")
    concat = "cb0.cb"
    for j in range(1, m):
        concat = f"list_concat({concat}, cb{j}.cb)"
    cb_joins = "\n              ".join(
        f"JOIN cb{j} ON cb{j}.vec_id = resid.vec_id" for j in range(m)
    )
    return f"""
            WITH emb AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            qv AS (SELECT v AS q FROM emb WHERE vec_id = 0),
            cents AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS list_id,
                     v AS centroid
              FROM (SELECT vec_id, v FROM emb
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                    LIMIT {n_lists})),
            cassign AS (
              SELECT vec_id, v, list_id FROM (
                SELECT e.vec_id, e.v, ct.list_id,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(e.v, ct.centroid), 6)
                           DESC, ct.list_id) AS rn
                FROM emb e CROSS JOIN cents ct)
              WHERE rn = 1),
            resid AS (
              SELECT a.vec_id, a.list_id,
                     list_transform(generate_series(1, {dim}),
                                    i -> a.v[i] - ct.centroid[i]) AS r
              FROM cassign a JOIN cents ct USING (list_id)),
            {",".join(blocks)},
            probe AS (
              SELECT list_id, centroid FROM (
                SELECT ct.list_id, ct.centroid,
                       row_number() OVER (
                         ORDER BY round(list_cosine_similarity(q.q, ct.centroid), 6)
                           DESC, ct.list_id) AS rn
                FROM cents ct CROSS JOIN qv q)
              WHERE rn <= {n_probe}),
            xhat AS (
              SELECT resid.vec_id,
                     list_transform(generate_series(1, {dim}),
                                    i -> p.centroid[i] + ({concat})[i]) AS xv
              FROM resid
              JOIN probe p USING (list_id)
              {cb_joins}),
            s AS (
              SELECT x.vec_id,
                     round(list_cosine_similarity(x.xv, q.q), 6) AS s
              FROM xhat x CROSS JOIN qv q)
            SELECT vec_id, round(s, 4) AS approx_cos
            FROM s
            QUALIFY row_number() OVER (ORDER BY s DESC, vec_id) <= {topk}
        """

@query(oracle=_ivfpq_oracle_sql())
def q_ivfpq_topk(spark, sf):
    """End-to-end IVF-PQ search (the FAISS production shape): coarse
    quantizer routes to 8 lists, residuals PQ-coded (m=4, k=16), query
    probes its 4 nearest lists and ranks by the ADC lookup algebra —
    per-row cost is m table lookups and only probed lists are scanned
    (partition pruning on list_id at scale). Fully deterministic
    (md5-sampled inits, 6-dp rounding, id tiebreaks), so the oracle
    replays the ENTIRE index build + search in DuckDB and the result is
    hash-verified — not merely recall-checked; tests additionally pin
    ADC-equals-explicit-reconstruction and a recall floor."""
    from pdf_to_vectordb_etl_spark.operators import quantization as pq

    emb = _t(spark, sf, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cents, books, coded = pq.ivfpq_build(
        emb, n_lists=8, m=4, k=16, n_iters=1, dim=64
    )
    top = pq.ivfpq_topk(cents, books, coded, list(query), k=10, n_probe=4)
    return top.select("vec_id", F.round("approx_cos", 4).alias("approx_cos"))


@query(oracle="""
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders o
            WHERE EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
        """)
def q_order_priority_exists(spark, sf):
    """TPC-H Q4 class — EXISTS subquery as a LEFT SEMI join: orders
    with at least one line shipped >60 days after the order date,
    counted per priority. Semi join ships only the key."""
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (o["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@query(oracle="""
            SELECT round(
                     100 * sum(CASE WHEN p.p_type = 'PROMO'
                                    THEN l.l_extendedprice * (1 - l.l_discount)
                                    ELSE 0.0 END)
                     / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                   AS promo_revenue_pct
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        """)
def q_promo_revenue(spark, sf):
    """TPC-H Q14 class — conditional revenue share: percentage of
    revenue from PROMO parts. One join + one agg; the CASE folds into
    the partial aggregation."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    return j.agg(
        F.round(
            100 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.expr(
                "nullif(sum(l_extendedprice * (1 - l_discount)), 0.0)"
            ),
            4,
        ).alias("promo_revenue_pct")
    )


@query(oracle="""
            SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
            FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
            WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 20
                   AND p.p_size BETWEEN 1 AND 10)
               OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 30
                   AND p.p_size BETWEEN 1 AND 20)
               OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 40
                   AND p.p_size BETWEEN 1 AND 30)
        """)
def q_disjunctive_revenue(spark, sf):
    """TPC-H Q19 class — OR-of-ANDs predicate across both join sides:
    the planner must keep the join equi (partkey) and evaluate the
    disjunction as a post-join filter without exploding the plan."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 20)
         & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 30)
           & F.col("p_size").between(1, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 40)
           & F.col("p_size").between(1, 30))
    )
    return j.filter(cond).agg(
        _e4_to_2dp(F.sum(_rev_e4())).alias("revenue")
    )


@query(oracle="""
            SELECT doc_id,
                   upper(substr(text, 1, 12)) AS up12,
                   lower(right(text, 8)) AS low8,
                   lpad(lang, 5, '.') AS langpad,
                   reverse(left(text, 6)) AS rev6,
                   length(translate(text, 'aeiou', '')) AS n_consonant_chars,
                   strpos(text, 'data') AS data_at,
                   repeat(lang, 2) AS lang2
            FROM documents
        """)
def q_string_surface(spark, sf):
    """Scalar string-function surface over documents: the portable core
    (pad/slice/search/translate/case) in one projection — function
    parity proven value-for-value against the SQL twin."""
    d = _t(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        F.upper(F.substring(t, 1, 12)).alias("up12"),
        F.lower(F.right(t, F.lit(8))).alias("low8"),
        F.lpad(F.col("lang"), 5, ".").alias("langpad"),
        F.reverse(F.left(t, F.lit(6))).alias("rev6"),
        F.length(F.translate(t, "aeiou", "")).alias("n_consonant_chars"),
        F.instr(t, "data").alias("data_at"),
        F.repeat(F.col("lang"), 2).alias("lang2"),
    )


@query(oracle=r"""
            WITH t AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
              FROM documents),
            s AS (
              SELECT doc_id, toks, toks[1:5] AS first5,
                     toks[greatest(len(toks)-4, 1):len(toks)] AS last5
              FROM t)
            SELECT doc_id,
                   len(list_distinct(toks)) AS n_distinct_toks,
                   array_to_string(list_sort(first5), '|') AS first5_sorted,
                   len(list_intersect(first5, last5)) AS n_common_ends,
                   len(list_distinct(list_concat(first5, last5))) AS n_union_ends,
                   len(list_filter(list_distinct(first5), x -> NOT list_contains(last5, x))) AS n_first_only,
                   len(first5) + len(last5) AS n_flat
            FROM s
        """)
def q_array_surface(spark, sf):
    """Array-function surface: dedup/sort/set-ops/flatten over token
    arrays — the collection algebra a curation DSL leans on."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    first5 = F.slice(toks, 1, 5)
    # clamp the start: slice(toks, -5, 5) returns an EMPTY array when the
    # array has <5 elements (negative start out of range), while the DuckDB
    # twin's toks[greatest(len-4,1):len] returns the whole array
    last5 = F.slice(toks, F.greatest(F.size(toks) - 4, F.lit(1)), 5)
    return d.select(
        "doc_id",
        F.size(F.array_distinct(toks)).alias("n_distinct_toks"),
        F.array_join(F.array_sort(first5), "|").alias("first5_sorted"),
        F.size(F.array_intersect(first5, last5)).alias("n_common_ends"),
        F.size(F.array_union(first5, last5)).alias("n_union_ends"),
        F.size(F.array_except(first5, last5)).alias("n_first_only"),
        F.size(F.flatten(F.array(first5, last5))).alias("n_flat"),
    )


@query(oracle="""
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
              FROM events)
            SELECT user_id, event_id,
                   first_value(event_type) OVER w AS first_type,
                   last_value(event_type) OVER (PARTITION BY user_id
                     ORDER BY tus, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type,
                   nth_value(event_type, 2) OVER (PARTITION BY user_id
                     ORDER BY tus, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_type,
                   round(cume_dist() OVER w, 6) AS cdist
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        """)
def q_window_value_functions(spark, sf):
    """Window VALUE-function surface per user ordered by time:
    first/last/nth event plus cumulative distribution."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("tus"), "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_type").over(wall).alias("first_type"),
        F.last("event_type").over(wall).alias("last_type"),
        F.nth_value("event_type", 2).over(wall).alias("second_type"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@query(oracle="""
            WITH wide AS (
              SELECT l_returnflag,
                     round(sum(l_quantity), 2) AS sum_qty,
                     round(sum(l_extendedprice), 2) AS sum_price,
                     round(sum(l_discount), 2) AS sum_disc
              FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, metric, value
            FROM wide UNPIVOT (value FOR metric IN (sum_qty, sum_price, sum_disc))
        """)
def q_unpivot_metrics(spark, sf):
    """Wide->long melt (unpivot): per-returnflag metric matrix to
    (flag, metric, value) triplets — the inverse of A4's pivot, one
    Expand node, no shuffle beyond the feeding aggregate."""
    li = _t(spark, sf, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"],
        "metric", "value",
    )


@query(oracle="""
            WITH e AS (SELECT event_type, nullif(event_type, 'error') AS v FROM events)
            SELECT event_type,
                   count(v) AS n_nonnull,
                   CAST(count_if(v IS NOT DISTINCT FROM NULL) AS BIGINT) AS n_nullsafe_null,
                   CAST(count_if(coalesce(v, '<none>') = '<none>') AS BIGINT) AS n_coalesced
            FROM e GROUP BY event_type
        """)
def q_null_semantics(spark, sf):
    """NULL-handling surface: coalesce / nullif / null-safe equality
    aggregated per event type — the semantics every engine must agree
    on before any filter can be trusted."""
    ev = _t(spark, sf, "events")
    v = F.nullif(F.col("event_type"), F.lit("error"))
    return ev.groupBy("event_type").agg(
        F.count(v).alias("n_nonnull"),
        F.count_if(v.eqNullSafe(F.lit(None).cast("string"))).alias("n_nullsafe_null"),
        F.count_if(F.coalesce(v, F.lit("<none>")) == "<none>").alias("n_coalesced"),
    )


@query(oracle="""
            WITH p AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 x -> len(x) > 0) AS toks
              FROM documents),
            d AS (
              SELECT doc_id, len(toks) AS dl,
                     list_filter(toks, t -> t IN ('merge', 'window', 'data')) AS qt
              FROM p),
            t AS (SELECT doc_id, dl, unnest(qt) AS term FROM d),
            tf AS (SELECT doc_id, term, any_value(dl) AS dl, count(*) AS tf
                   FROM t GROUP BY 1, 2),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            c AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
            s AS (
              SELECT tf.doc_id,
                     ln((c.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1)
                     * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl)) AS sc
              FROM tf JOIN dft USING (term) CROSS JOIN c),
            lexall AS (
              SELECT doc_id, round(sum(sc), 4) AS score
              FROM s GROUP BY doc_id
              ORDER BY round(sum(sc), 4) DESC, doc_id LIMIT 50),
            lex AS (
              SELECT doc_id AS id,
                     CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS lrank
              FROM lexall),
            q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT e.vec_id AS id,
                     round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])), 4) AS sim
              FROM embeddings e, q WHERE e.vec_id > 0),
            semall AS (
              SELECT id, sim FROM scored ORDER BY sim DESC, id LIMIT 50),
            sem AS (
              SELECT id,
                     CAST(row_number() OVER (ORDER BY sim DESC, id) AS INT) AS srank
              FROM semall),
            fused AS (
              SELECT coalesce(l.id, m.id) AS doc_id,
                     round(coalesce(1.0 / (60 + l.lrank), 0.0)
                           + coalesce(1.0 / (60 + m.srank), 0.0), 6) AS rrf_score,
                     l.lrank AS lexical_rank, m.srank AS semantic_rank
              FROM lex l FULL OUTER JOIN sem m ON l.id = m.id)
            SELECT doc_id, rrf_score, lexical_rank, semantic_rank
            FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20
        """)
def q_hybrid_search_rrf(spark, sf):
    """Hybrid retrieval: BM25 top-50 and cosine top-50 shortlists fused
    by reciprocal-rank fusion (1/(60+rank)) — no score calibration,
    engine-stable integer ranks, top-20 out. doc_id and vec_id are
    aligned in the synthetic corpus."""
    from pyspark.sql import Window

    from pdf_to_vectordb_etl_spark.operators import textsearch

    docs = _t(spark, sf, "documents")
    lex = textsearch.bm25_topk(docs, ["merge", "window", "data"], k=50)
    wl = Window.orderBy(F.desc("score"), "id")
    lex = lex.select("id", F.row_number().over(wl).alias("rank"))

    emb = _t(spark, sf, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    corpus = emb.filter(F.col("vec_id") > 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
    )
    sem = topk.topk_cosine(corpus, list(qv), k=50)
    ws = Window.orderBy(F.desc(F.round("cosine_sim", 4)), "id")
    sem = sem.select("id", F.row_number().over(ws).alias("rank"))

    out = textsearch.hybrid_rrf(lex, sem, k=20)
    return out.select(
        F.col("id").alias("doc_id"), "rrf_score", "lexical_rank", "semantic_rank"
    )


@query(oracle=r"""
            WITH f AS (
              SELECT doc_id, lang,
                     length(text) AS n_chars,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it)\b'))
                       AS n_stop
              FROM documents),
            g AS (
              SELECT doc_id, lang,
                     CASE WHEN n_tokens > 0
                          THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens ELSE 0.0 END
                       AS mean_token_len,
                     CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars ELSE 0.0 END
                       AS punct_ratio,
                     CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens ELSE 0.0 END
                       AS stopword_ratio
              FROM f),
            s AS (
              SELECT doc_id, lang,
                     round(least(stopword_ratio * 4, 1.0) * 0.4
                           + CASE WHEN mean_token_len BETWEEN 3 AND 10 THEN 0.4 ELSE 0.0 END
                           + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END, 6) AS w,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hx
              FROM g),
            b AS (
              SELECT lang, w,
                     (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
                     + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
                     + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1) AS bucket
              FROM s)
            SELECT lang, count(*) AS n_kept
            FROM b WHERE bucket < w * 65536
            GROUP BY lang
        """)
def q_weighted_sample(spark, sf):
    """Quality-weighted downsampling: each document survives with
    probability equal to its quality score (md5-deterministic, narrow,
    no shuffle) — the soft quality filter. Report per-lang survival."""
    from pdf_to_vectordb_etl_spark.operators import sampling

    docs = _t(spark, sf, "documents")
    scored = ta.quality_score(docs)
    kept = sampling.weighted_sample(scored, F.round(F.col("quality_score"), 6))
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


@query(oracle=r"""
            WITH a AS (
              SELECT vec_id AS anchor_id, embedding AS qv
              FROM embeddings WHERE vec_id < 10),
            s AS (
              SELECT a.anchor_id, e.vec_id,
                     round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]), CAST(a.qv AS DOUBLE[])), 4) AS sim
              FROM embeddings e CROSS JOIN a
              WHERE e.vec_id <> a.anchor_id),
            f AS (SELECT * FROM s WHERE sim >= 0.3 AND sim < 0.95),
            r AS (
              SELECT anchor_id, vec_id AS negative_id, sim,
                     CAST(row_number() OVER (PARTITION BY anchor_id
                       ORDER BY sim DESC, vec_id) AS INT) AS rank
              FROM f)
            SELECT anchor_id, negative_id, sim, rank FROM r WHERE rank <= 5
        """)
def q_hard_negatives(spark, sf):
    """Contrastive-pair mining: for each anchor (vec_id < 10), the top-5
    HARD negatives — similar enough to be informative (cosine >= 0.3)
    but below the near-duplicate band (< 0.95), so positives/dups never
    leak into the negative set. Broadcast the 10 anchors; rank per
    anchor with one window; the corpus never self-joins."""
    from pyspark.sql import Window

    emb = _t(spark, sf, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.select("vec_id", "embedding")
    sim = F.round(
        topk.cosine_similarity(F.col("embedding"), F.col("qv")), 4
    )
    scored = (
        corpus.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .withColumn("sim", sim)
        .filter((F.col("sim") >= 0.3) & (F.col("sim") < 0.95))
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("anchor_id", F.col("vec_id").alias("negative_id"), "sim", "rank")
    )


@query(oracle=r"""
            SELECT o_orderkey,
                   CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
                   CAST(year(o_orderdate) AS INT) AS yr,
                   CAST(quarter(o_orderdate) AS INT) AS qtr,
                   CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
                   last_day(CAST(o_orderdate AS DATE)) AS month_end,
                   CAST(datediff('day', DATE '1995-06-15', CAST(o_orderdate AS DATE)) AS INT)
                     AS days_from_ref,
                   round((year(o_orderdate) - 1995) * 12 + (month(o_orderdate) - 6)
                         + CASE WHEN day(o_orderdate) = 15 THEN 0
                                ELSE (day(o_orderdate) - 15) / 31.0 END, 4)
                     AS months_from_ref,
                   CAST(o_orderdate AS DATE) + 30 AS plus30
            FROM orders
        """)
def q_datetime_surface(spark, sf):
    """Date/time function surface over order dates: trunc, extract,
    end-of-month, month arithmetic, day difference vs a fixed epoch —
    the calendar algebra behind every partition scheme. o_orderdate is
    wall-clock (NTZ) on both engines, so values match exactly."""
    o = _t(spark, sf, "orders")
    d = F.col("o_orderdate")
    ref = F.lit("1995-06-15").cast("date")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.dayofweek(d).alias("dow"),
        F.last_day(d).alias("month_end"),
        F.datediff(d.cast("date"), ref).alias("days_from_ref"),
        F.round(F.months_between(d.cast("date"), ref), 4).alias("months_from_ref"),
        F.date_add(d.cast("date"), 30).alias("plus30"),
    )


@query(oracle=r"""
            WITH p AS (
              SELECT event_id,
                     CASE WHEN json_valid(props)
                          THEN CAST(json_extract(props, '$.k') AS INT) END AS k
              FROM events)
            SELECT event_id, k, k % 7 AS k_mod7,
                   '{"k":' || coalesce(CAST(k AS VARCHAR), 'null') || '}'
                     AS roundtrip,
                   k IS NULL AS parse_failed
            FROM p
        """)
def q_json_struct_surface(spark, sf):
    """Structured JSON surface: from_json with an explicit schema (no
    inference scan), struct field access, and a to_json round-trip —
    the semi-structured column workflow at scan speed."""
    ev = _t(spark, sf, "events")
    parsed = ev.select(
        "event_id",
        F.from_json(F.col("props"), "k INT").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") % 7).alias("k_mod7"),
        # ignoreNullFields=false: a null/absent k serializes as {"k":null}
        # instead of {} so the oracle can reproduce the byte form
        F.to_json(
            F.struct(F.col("p.k").alias("k")),
            options={"ignoreNullFields": "false"},
        ).alias("roundtrip"),
        # field-level: malformed input yields a null-fielded struct in
        # PERMISSIVE mode, so the struct itself is a poor failure signal
        F.col("p.k").isNull().alias("parse_failed"),
    )


@query(oracle=r"""
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS tus, event_type, event_id
              FROM events),
            d AS (
              SELECT user_id, tus, event_type, event_id,
                     lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY tus, event_id) AS prev_type
              FROM e),
            kept AS (
              SELECT user_id, tus, event_type, event_id FROM d
              WHERE prev_type IS DISTINCT FROM event_type)
            SELECT user_id, event_type,
                   tus AS valid_from,
                   lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
                     AS valid_to,
                   lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
                     IS NULL AS is_current
            FROM kept
        """)
def q_scd2_intervals(spark, sf):
    """SCD Type-2 historization: the events changelog becomes validity
    intervals per user — no-op updates collapsed, [valid_from,
    valid_to) from one lead window, open interval on the current
    version."""
    from pdf_to_vectordb_etl_spark.operators import cdc

    ev = _t(spark, sf, "events").select(
        "user_id", F.expr("ts div 1000").alias("tus"), "event_type", "event_id"
    )
    # event_id tiebreak: two events for one user in the same microsecond
    # must sort deterministically on both engines or the hash gate flakes
    out = cdc.scd2_intervals(
        ev, ["user_id"], "tus", ["event_type"], tiebreak_cols=["event_id"]
    )
    return out.select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


@query(oracle=r"""
            WITH c AS (
              SELECT event_type,
                     round(quantile_cont(value, 0.05), 6) AS lo,
                     round(quantile_cont(value, 0.95), 6) AS hi
              FROM events GROUP BY event_type),
            w AS (
              SELECT e.event_type, e.value,
                     least(greatest(e.value, c.lo), c.hi) AS value_w
              FROM events e JOIN c USING (event_type))
            SELECT event_type,
                   floor(CAST(sum(CASE WHEN NOT isnan(value)
                               THEN CAST(floor(value * 100 + 0.5)
                                         AS BIGINT) END) AS DOUBLE)
                         / count(CASE WHEN NOT isnan(value) THEN 1 END))
                     / 100.0 + 0.0 AS mean_raw,
                   floor(CAST(sum(CASE WHEN NOT isnan(value_w)
                               THEN CAST(floor(value_w * 1000000)
                                         AS BIGINT) END) AS DOUBLE)
                         / (CAST(count(CASE WHEN NOT isnan(value_w)
                                       THEN 1 END) AS DOUBLE) * 10000.0))
                     / 100.0 + 0.0 AS mean_winsorized,
                   round(min(value_w), 4) AS clip_lo,
                   round(max(value_w), 4) AS clip_hi
            FROM w GROUP BY event_type
        """)
def q_winsorize_values(spark, sf):
    """Outlier clipping: per-event-type [p05, p95] winsorization of
    value; exact percentile cutoffs broadcast back, means before/after
    reported per type."""
    ev = _t(spark, sf, "events")
    w = aggregates.winsorize(ev, "value", by="event_type",
                             lower_q=0.05, upper_q=0.95)
    # exact-lattice means (r9 port): raw values sit on the 2-dp cents
    # grid (exact +0.5 recovery); winsorized values include
    # INTERPOLATED percentile clamps off that grid, so they floor onto
    # the generic 1e-6 lattice (bit-identical doubles both engines)
    qr = F.when(
        ~F.isnan(F.col("value")), F.floor(F.col("value") * 100 + F.lit(0.5))
    ).cast("long")
    qw = F.when(
        ~F.isnan(F.col("value_w")), F.floor(F.col("value_w") * 1000000)
    ).cast("long")
    return w.groupBy("event_type").agg(
        (
            F.floor(F.sum(qr).cast("double") / F.count(qr)) / 100.0 + 0.0
        ).alias("mean_raw"),
        (
            F.floor(
                F.sum(qw).cast("double")
                / (F.count(qw).cast("double") * 1e4)
            )
            / 100.0
            + 0.0
        ).alias("mean_winsorized"),
        F.round(F.min("value_w"), 4).alias("clip_lo"),
        F.round(F.max("value_w"), 4).alias("clip_hi"),
    )


@query(oracle=r"""
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS tus, event_id,
                     substr(event_type, 1, 1) AS c
              FROM events),
            s AS (
              SELECT user_id,
                     string_agg(c, '' ORDER BY tus, event_id) AS path
              FROM e GROUP BY user_id)
            SELECT user_id,
                   length(path) AS n_events,
                   CAST(len(regexp_extract_all(path, 'v[^p]*p')) AS INT)
                     AS n_view_to_purchase,
                   CAST(len(regexp_extract_all(path, 'e')) AS INT) AS n_errors
            FROM s
        """)
def q_sequence_pattern(spark, sf):
    """Event-sequence pattern analytics WITHOUT a sessionizer: each
    user's history collapses to an ordered initial-letter string, and
    conversion paths become one regexp count (view followed by purchase
    with no intervening purchase). One groupBy + codegen regexp."""
    ev = _t(spark, sf, "events").select(
        "user_id", F.expr("ts div 1000").alias("tus"), "event_id",
        F.substring("event_type", 1, 1).alias("c"),
    )
    seq = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tus", "event_id", "c"))),
                lambda s: s["c"],
            ),
        ).alias("path")
    )
    return seq.select(
        "user_id",
        F.length("path").alias("n_events"),
        F.regexp_count(F.col("path"), F.lit("v[^p]*p")).alias("n_view_to_purchase"),
        F.regexp_count(F.col("path"), F.lit("e")).alias("n_errors"),
    )


@query(oracle=r"""
            WITH m AS (
              SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
              FROM events GROUP BY event_type),
            d AS (
              SELECT e.event_type, m.med, abs(e.value - m.med) AS dd
              FROM events e JOIN m USING (event_type))
            SELECT event_type,
                   round(any_value(med), 4) AS median_value,
                   round(quantile_cont(dd, 0.5), 4) AS mad
            FROM d GROUP BY event_type
        """)
def q_robust_stats_mad(spark, sf):
    """Robust dispersion per event type: median + median absolute
    deviation (two exact percentile passes; the median table broadcasts
    back between them). The outlier-insensitive scale estimate that
    mean/stddev quality gates should be cross-checked against."""
    ev = _t(spark, sf, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("_d")
    )
    return dev.groupBy("event_type").agg(
        F.round(F.first("med"), 4).alias("median_value"),
        F.round(F.expr("percentile(_d, 0.5)"), 4).alias("mad"),
    )


@query(oracle=r"""
            WITH toks AS (
              SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            tf AS (
              SELECT lang, tok, count(*) AS n
              FROM toks WHERE length(tok) > 0 GROUP BY lang, tok),
            tot AS (SELECT lang, sum(n) AS total FROM tf GROUP BY lang),
            p AS (
              SELECT tf.lang, tf.n * 1.0 / tot.total AS p
              FROM tf JOIN tot USING (lang))
            SELECT lang,
                   round(-sum(p * log2(p)), 4) AS entropy_bits,
                   count(*) AS vocab_size
            FROM p GROUP BY lang
        """)
def q_corpus_entropy(spark, sf):
    """Per-language unigram entropy (bits/token): the corpus-diversity
    statistic behind mixture decisions — low entropy flags templated or
    repetitive sources. Explode once, two hash aggs, log2 arithmetic in
    codegen."""
    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    tot = tf.groupBy("lang").agg(F.sum("n").alias("total"))
    p = tf.join(tot, "lang").select(
        "lang", (F.col("n") / F.col("total")).alias("p")
    )
    return p.groupBy("lang").agg(
        F.round(-F.sum(F.col("p") * F.log2("p")), 4).alias("entropy_bits"),
        F.count("*").alias("vocab_size"),
    )


@query(oracle=r"""
            WITH toks AS (
              SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            tf AS (
              SELECT lang, tok, count(*) AS n
              FROM toks WHERE length(tok) > 0 GROUP BY lang, tok)
            SELECT lang, tok, n,
                   CAST(row_number() OVER (PARTITION BY lang
                     ORDER BY n DESC, tok) AS INT) AS rank
            FROM tf QUALIFY rank <= 5
        """)
def q_top_terms_per_lang(spark, sf):
    """Per-GROUP heavy hitters: top-5 tokens per language via a ranked
    window — WindowGroupLimit pushes the limit into the sort, so no
    group ever materializes its full vocabulary ranking."""
    from pyspark.sql import Window

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "lang", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy("lang", "tok").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "tok", "n", "rank")
    )


@query(oracle=r"""
            WITH d AS (
              SELECT source,
                     sha256(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS dg
              FROM documents)
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT dg) AS n_distinct,
                   round(1 - count(DISTINCT dg) * 1.0 / count(*), 4) AS dup_rate
            FROM d GROUP BY source
        """)
def q_dedup_rate_by_source(spark, sf):
    """Duplication pressure per source: docs vs distinct normalized
    digests — the triage report that decides where dedup effort goes.
    One narrow digest projection + one two-level aggregate."""
    docs = _t(spark, sf, "documents")
    d = docs.select(
        "source",
        F.sha2(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), 256).alias("dg"),
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("dg").alias("n_distinct"),
        F.round(1 - F.countDistinct("dg") / F.count("*"), 4).alias("dup_rate"),
    )


@query(oracle=r"""
            WITH c AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> length(x) > 0)) AS n_tok
              FROM documents),
            cs AS (
              SELECT list_transform(
                       quantile_cont(n_tok, [0.1, 0.2, 0.3, 0.4, 0.5,
                                             0.6, 0.7, 0.8, 0.9]),
                       q -> round(q, 6)) AS cs,
                     sum(n_tok) AS tt
              FROM c),
            r AS (
              SELECT 10 - len(list_filter(cs, q -> n_tok > q)) AS decile,
                     n_tok, tt
              FROM c, cs)
            SELECT decile, count(*) AS n_docs,
                   round(sum(n_tok) * 1.0 / any_value(tt), 4) AS token_share
            FROM r GROUP BY decile
        """)
def q_token_pareto(spark, sf):
    """Token concentration (Pareto): share of corpus tokens held by
    docs grouped into size deciles (decile 1 = largest) — the skew lens
    for length-capping decisions. NO global sort: the per-doc count
    table is corpus-cardinality (one row PER DOCUMENT), so ranking it
    through a single-partition window dies at 100x — instead 9 exact
    decile cutpoints of n_tok come from one partial-combinable
    ``percentile`` aggregate and are broadcast back; decile = 10 minus
    the number of cutpoints the doc exceeds. Value ties share a decile
    (depths approximately N/10); cutpoints rounded to 6 decimals on
    both engines so the oracle agrees."""
    docs = _t(spark, sf, "documents")
    counts = docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.lower(F.col("text")), r"\s+"),
                        lambda t: F.length(t) > 0)).alias("n_tok"),
    )
    cuts = counts.agg(
        F.transform(
            F.percentile(
                "n_tok", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
            ),
            lambda c: F.round(c, 6),
        ).alias("cs"),
        F.sum("n_tok").alias("t"),
    )
    ranked = counts.crossJoin(F.broadcast(cuts)).select(
        (
            10
            - F.aggregate(
                "cs",
                F.lit(0),
                lambda acc, c: acc + F.when(F.col("n_tok") > c, 1).otherwise(0),
            )
        ).alias("decile"),
        "n_tok",
        "t",
    )
    return ranked.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("n_tok") / F.first("t"), 4).alias("token_share"),
    )


@query(oracle=r"""
            WITH s AS (
              SELECT event_type, count(*) AS n,
                     sum(value) AS s1, sum(value * value) AS s2,
                     sum(value * value * value) AS s3,
                     sum(value * value * value * value) AS s4
              FROM events GROUP BY event_type),
            m AS (
              SELECT event_type, n, s1 / n AS mu,
                     s2 / n - (s1 / n) * (s1 / n) AS m2,
                     s3 / n - 3 * (s1 / n) * s2 / n + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
                     s4 / n - 4 * (s1 / n) * s3 / n
                       + 6 * (s1 / n) * (s1 / n) * s2 / n
                       - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
              FROM s)
            SELECT event_type, n,
                   round(mu, 3) AS mean_x,
                   round(m3 / (m2 ** 1.5), 3) AS skewness_pop,
                   round(m4 / (m2 * m2) - 3, 3) AS excess_kurtosis_pop
            FROM m
        """)
def q_higher_moments(spark, sf):
    """Skewness and excess kurtosis per event type, computed from raw
    power sums in ONE pass (sum x, x^2, x^3, x^4 -> moments) — the
    explicit formulation is engine-portable where built-in skewness()
    differs in sample-vs-population convention across engines."""
    ev = _t(spark, sf, "events").select("event_type", F.col("value").alias("x"))
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x")).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mu * mu
    m3 = F.col("s3") / F.col("n") - 3 * mu * F.col("s2") / F.col("n") + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mu * F.col("s3") / F.col("n")
        + 6 * mu * mu * F.col("s2") / F.col("n")
        - 3 * mu * mu * mu * mu
    )
    return s.select(
        "event_type",
        "n",
        F.round(mu, 3).alias("mean_x"),
        # constant series: m2 = 0, skew/kurtosis undefined (NULL) —
        # never an ANSI /0 crash
        F.round(
            m3 / F.when(m2 > 0, F.pow(m2, 1.5)), 3
        ).alias("skewness_pop"),
        F.round(
            m4 / F.when(m2 > 0, m2 * m2) - 3, 3
        ).alias("excess_kurtosis_pop"),
    )


@query(oracle=r"""
            WITH e AS (
              SELECT user_id, event_id, epoch_us(ts) AS tus FROM events)
            SELECT user_id, event_id,
                   coalesce(tus - lag(tus) OVER (PARTITION BY user_id
                     ORDER BY tus, event_id), tus) AS delta_us,
                   lag(tus) OVER (PARTITION BY user_id
                     ORDER BY tus, event_id) IS NULL AS is_base
            FROM e
        """)
def q_delta_encode(spark, sf):
    """Delta encoding per user: first event carries its absolute
    timestamp, every later one the gap to its predecessor — the
    storage/transport form for monotone series (deltas compress orders
    of magnitude better than absolutes). One lag window; the running
    sum over deltas reconstructs the original exactly, so the encoding
    is lossless by construction."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    delta = F.col("tus") - F.lag("tus").over(w)
    return ev.select(
        "user_id", "event_id",
        F.coalesce(delta, F.col("tus")).alias("delta_us"),
        (F.lag("tus").over(w).isNull()).alias("is_base"),
    )


@query(oracle=r"""
            WITH raw AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS ws
              FROM documents),
            t2 AS (
              SELECT doc_id, tok, pos,
                     CASE WHEN pos + 4 <= len(ws)
                       THEN array_to_string(ws[pos+1:pos+4], ' ') END AS g
              FROM (SELECT doc_id, ws, unnest(ws) AS tok,
                           unnest(range(len(ws))) AS pos
                    FROM raw)
              WHERE tok <> ''),
            sp2 AS (SELECT doc_id, pos, g FROM t2 WHERE g IS NOT NULL),
            hot AS (SELECT g FROM sp2 GROUP BY g
                    HAVING count(DISTINCT doc_id) >= 3),
            cov AS (
              SELECT DISTINCT doc_id, pos + off AS pos
              FROM (SELECT doc_id, pos FROM sp2 JOIN hot USING (g)),
                   unnest(range(4)) AS u(off)),
            kept AS (
              SELECT t2.doc_id, t2.pos, t2.tok
              FROM t2 LEFT JOIN cov
                ON t2.doc_id = cov.doc_id AND t2.pos = cov.pos
              WHERE cov.pos IS NULL),
            rebuilt AS (
              SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id),
            totals AS (
              SELECT doc_id, len(list_filter(ws, t -> t <> '')) AS n_total
              FROM raw)
            SELECT t.doc_id,
                   coalesce(r.clean_text, '') AS clean_text,
                   coalesce(r.n_kept, 0) AS n_kept,
                   t.n_total - coalesce(r.n_kept, 0) AS n_removed
            FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        """)
def q_span_dedup(spark, sf):
    """Duplicated-span removal (ExactSubstr at 4-gram granularity, Lee
    et al. 2022): any 4-token span present in >= 3 distinct docs is cut
    everywhere and the docs reassembled. See
    webcorpus.remove_duplicated_spans for the explode-once / span-hash
    agg / bounded-fanout plan; no all-pairs work."""
    from pdf_to_vectordb_etl_spark.operators import webcorpus

    docs = _t(spark, sf, "documents")
    return webcorpus.remove_duplicated_spans(docs, n=4, min_docs=3)


@query(oracle="""
            WITH d AS (
              SELECT doc_id, text, length(text) AS n FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents),
            w AS (
              SELECT doc_id, pos + 1 AS i, substr(text, pos + 1, 50) AS sub
              FROM (SELECT doc_id, text, unnest(range(n - 49)) AS pos
                    FROM d WHERE n >= 50)),
            hot AS (SELECT sub FROM w GROUP BY sub HAVING count(*) >= 2),
            cov AS (
              SELECT DISTINCT doc_id, i + off AS pos
              FROM (SELECT doc_id, i FROM w JOIN hot USING (sub)),
                   unnest(range(50)) AS u(off)),
            chars AS (
              SELECT doc_id, p + 1 AS pos
              FROM (SELECT doc_id, unnest(range(n)) AS p FROM d)),
            kept AS (
              SELECT c.doc_id, c.pos
              FROM chars c LEFT JOIN cov
                ON c.doc_id = cov.doc_id AND c.pos = cov.pos
              WHERE cov.pos IS NULL),
            reb AS (
              SELECT k.doc_id,
                     string_agg(substr(d.text, k.pos, 1), ''
                                ORDER BY k.pos) AS clean_text,
                     count(*) AS n_kept
              FROM kept k JOIN d USING (doc_id) GROUP BY k.doc_id)
            SELECT d.doc_id,
                   coalesce(r.clean_text, '') AS clean_text,
                   coalesce(r.n_kept, 0) AS n_kept,
                   d.n - coalesce(r.n_kept, 0) AS n_removed
            FROM d LEFT JOIN reb r USING (doc_id)
        """)
def q_exact_substr_dedup(spark, sf):
    """True ExactSubstr dedup at character granularity (Lee et al.
    2022 semantics, threshold 50 chars, any occurrence count >= 2
    incl. within-doc): every char covered by a >=50-char substring
    that occurs twice anywhere in the corpus is cut from every
    occurrence. Sliding per-offset windows make alignment irrelevant
    (straddling duplicates caught by construction) — see
    webcorpus.exact_substring_dedup for the hash-agg/interval-merge
    plan; the span-hash TOKEN variant (span_dedup) remains the
    coarse-grained fast path."""
    from pdf_to_vectordb_etl_spark.operators import webcorpus

    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    return webcorpus.exact_substring_dedup(docs, min_len=50, min_count=2)


@query(oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(substr(text, 1, 120),
                                    '[^\x20-\x7e]', '', 'g') AS t
              FROM documents WHERE doc_id < 100),
            s AS (
              SELECT doc_id, p AS pos, substr(t, p + 1) AS suf
              FROM (SELECT doc_id, t, unnest(range(length(t))) AS p
                    FROM d))
            SELECT doc_id, pos,
                   CAST(dense_rank() OVER (ORDER BY suf) - 1 AS BIGINT)
                     AS srank
            FROM s
        """)
def q_suffix_ranks(spark, sf):
    """Distributed suffix array by prefix doubling (Manber-Myers; the
    cluster-side construction behind ExactSubstr/substring mining):
    O(log max_len) rounds of equi-join + distributed dense-rank (range
    partition + per-partition offsets — no single-partition Window
    anywhere). The oracle needs none of that machinery: dense rank ==
    dense_rank() OVER (ORDER BY suffix), one sort in DuckDB —
    hash-verifying every rank the doubling pipeline produced. Inputs
    ASCII-projected and capped at 120 chars: Spark orders strings by
    UTF-16 unit, DuckDB by UTF-8 byte — identical on ASCII (the r3
    levenshtein precedent), and the cap bounds gate latency."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    d2 = docs.select(
        "doc_id",
        F.regexp_replace(
            F.substring("text", 1, 120), r"[^\x20-\x7e]", ""
        ).alias("text"),
    )
    return suffixes.suffix_ranks(d2)


# LRS by the classical suffix route: max LCP over adjacent
# sorted suffixes (monotone prefix equality -> max k with equal
# prefixes IS the LCP), then the smallest repeated witness.
@query(oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(substr(text, 1, 120),
                                    '[^\x20-\x7e]', '', 'g') AS t
              FROM documents WHERE doc_id < 100),
            s AS (
              SELECT doc_id, substr(t, p + 1) AS suf
              FROM (SELECT doc_id, t, unnest(range(length(t))) AS p
                    FROM d)),
            o AS (SELECT suf, lead(suf) OVER (ORDER BY suf) AS nxt FROM s),
            pr AS (SELECT suf, nxt FROM o WHERE nxt IS NOT NULL),
            kk AS (
              SELECT suf, nxt,
                     unnest(generate_series(
                       1, least(length(suf), length(nxt)))) AS k
              FROM pr),
            lcps AS (
              SELECT suf, nxt, max(k) AS lcp FROM kk
              WHERE substr(suf, 1, k) = substr(nxt, 1, k)
              GROUP BY suf, nxt),
            mx AS (SELECT max(lcp) AS lrs_len FROM lcps),
            w AS (
              SELECT doc_id, substr(t, p + 1, (SELECT lrs_len FROM mx))
                       AS sub
              FROM (SELECT doc_id, t, unnest(range(length(t))) AS p
                    FROM d)
              WHERE p + (SELECT lrs_len FROM mx) <= length(t)),
            hot AS (
              SELECT sub, CAST(count(*) AS BIGINT) AS n_occurrences,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              FROM w GROUP BY sub HAVING count(*) >= 2),
            win AS (SELECT * FROM hot ORDER BY sub LIMIT 1)
            SELECT CAST(coalesce((SELECT lrs_len FROM mx), 0) AS INT)
                     AS lrs_len,
                   (SELECT sub FROM win) AS lrs,
                   CAST(coalesce((SELECT n_occurrences FROM win), 0)
                        AS BIGINT) AS n_occurrences,
                   CAST(coalesce((SELECT n_docs FROM win), 0) AS BIGINT)
                     AS n_docs
        """)
def q_longest_repeated_substring(spark, sf):
    """The flagship suffix-array statistic without the suffix array:
    binary search on window length (repetition is monotone in length —
    O(log max_len) hash-agg passes), then extract the smallest
    witness. The oracle derives the same answer by the classical
    suffix route — max LCP over ADJACENT sorted suffixes — so two
    genuinely different algorithms must agree on (length, witness,
    counts). Same ASCII/120-char projection as suffix_ranks."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    d2 = docs.select(
        "doc_id",
        F.regexp_replace(
            F.substring("text", 1, 120), r"[^\x20-\x7e]", ""
        ).alias("text"),
    )
    return suffixes.longest_repeated_substring(d2)


# suffix_window_starts: the Spark side derives repeated
# 20-char window starts from prefix-doubling suffix ranks
# (no substring values anywhere); the oracle groups the same
# windows by VALUE — two independent constructions must agree
# on the exact (doc, start, occurrence-count) set.
@query(oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(substr(text, 1, 120),
                                    '[^\x20-\x7e]', '', 'g') AS t
              FROM documents WHERE doc_id < 100),
            w AS (
              SELECT doc_id, pos + 1 AS start, substr(t, pos + 1, 20) AS sub
              FROM (SELECT doc_id, t, unnest(range(length(t) - 19)) AS pos
                    FROM d WHERE length(t) >= 20)),
            hot AS (
              SELECT sub, CAST(count(*) AS BIGINT) AS n_occurrences
              FROM w GROUP BY sub HAVING count(*) >= 2)
            SELECT doc_id, CAST(start AS INT) AS start, n_occurrences
            FROM w JOIN hot USING (sub)
            ORDER BY doc_id, start
        """)
def q_suffix_window_starts(spark, sf):
    """Repeated length-20 window starts derived from the SUFFIX-ARRAY
    side: prefix-doubling ranks to width 16 + the overlapping
    power-of-two trick (width-16 ranks at offsets 0 and 4 ⟺ exact
    20-char prefix equality — the sparse-table LCP identity). This is
    the construction Lee et al. 2022 build ExactSubstr from; the
    DuckDB oracle groups the same windows by substring VALUE, and a
    pytest pin reconciles the flagged-char set against
    webcorpus.exact_substring_dedup's independent window-hash route.
    Same ASCII/120-char projection + doc cap as suffix_ranks (the
    dense-rank rounds bound gate latency)."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    d2 = docs.select(
        "doc_id",
        F.regexp_replace(
            F.substring("text", 1, 120), r"[^\x20-\x7e]", ""
        ).alias("text"),
    )
    return suffixes.repeated_window_starts(d2, 20).orderBy(
        "doc_id", "start"
    )


# T17: the live histogram is an associative sum over the same
# gram/bucket projection — snapshot == batch histogram.
@query(oracle=r"""
            WITH d AS (
              SELECT string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS ws
              FROM documents),
            g AS (
              SELECT tok FROM (
                SELECT unnest(list_filter(ws, w -> w <> '')) AS tok
                FROM d
                UNION ALL
                SELECT unnest(list_transform(
                         generate_series(1, len(ws) - 1),
                         i -> ws[i] || ' ' || ws[i + 1])) AS tok
                FROM d WHERE len(ws) >= 2)
              WHERE tok <> '')
            SELECT ('0x' || substr(md5(tok), 1, 4))::BIGINT % 512 AS b,
                   CAST(count(*) AS BIGINT) AS c
            FROM g GROUP BY b
        """)
def q_t17_stream_gram_hist(spark, sf):
    """T17 — the DSIR feature space maintained live: hashed uni+bigram
    bucket counts over a document stream as an associative streaming
    sum (state bounded at 512 rows). One code path with the batch
    models (curation.hashed_gram_array/gram_bucket), so over identical
    rows the snapshot equals the batch histogram and the batch SQL is
    the parity oracle."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_gram_histogram,
        table_stream,
    )

    stream = table_stream(spark, sf, "documents")
    live = stream_gram_histogram(stream, n_buckets=512)
    return drain_to_memory(live, "t17_gram_hist").select("b", "c")


# the streaming screen's snapshot over identical rows equals the
# batch incremental MinHash screen — which equals the exact
# new×corpus Jaccard set by the recall-1.0 argument — so the same
# DuckDB exact-Jaccard SQL is the oracle
@query(oracle_of="dedup_incremental_minhash")
def q_t19_stream_minhash_screen(spark, sf):
    """T19 — the live near-dup ingest gate: the corpus half
    (md5-bucket < '8') participates as its persisted band table, built
    from its exact-shingle-set REPRESENTATIVES only (the same corpus
    pre-collapse as the batch screen's collapse_exact=True — a
    boilerplate template is one band-table row); the new half streams
    in and is banded PER-ROW (stateless — no aggregation-before-join),
    band-joined against the static table, verified by per-row exact
    Jaccard on shingle-hash arrays, and pair-deduped by one bounded
    streaming agg. Snapshot hash-matches the batch incremental screen,
    so the oracle is the same DuckDB exact new×corpus-rep Jaccard set
    as dedup_incremental_minhash."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        minhash_band_table,
        stream_minhash_screen,
        table_stream,
    )

    docs = _t(spark, sf, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    bands = minhash_band_table(
        dedup.exact_set_representatives(docs.filter(h < "8"))
    )
    stream = table_stream(spark, sf, "documents")
    live = stream_minhash_screen(
        stream.filter(h >= "8"), bands, threshold=0.5
    )
    return drain_to_memory(live, "t19_minhash_screen").select(
        "new_id", "corpus_id", "jaccard"
    )


@query(oracle_of="dedup_incremental_exact")
def q_t30_stream_bloom_dedup(spark, sf):
    """T30 — the live Bloom-screened exact-dedup ingest gate: the
    corpus half (md5-bucket < '8') participates as its persisted
    digest table folded to a broadcast bitset; the new half streams in,
    each micro-batch is screened with ZERO batch-side shuffle
    (definite misses bypass the anti-join), residual-anti-joined,
    min-id deduped, and appended via foreachBatch with its digests
    persisted so later batches never re-admit. Admitted set
    hash-matches the batch incremental screen, so the oracle is the
    same SQL as dedup_incremental_exact (the Bloom screen has no false
    negatives)."""
    import tempfile

    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        await_stream,
        stream_bloom_dedup_ingest,
        table_stream,
    )

    docs = _t(spark, sf, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    corpus = dedup.content_digests(docs.filter(h < "8"))
    stream = table_stream(spark, sf, "documents")
    with tempfile.TemporaryDirectory(prefix="t30out") as out:
        with tempfile.TemporaryDirectory(prefix="t30ckpt") as ckpt:
            await_stream(
                stream_bloom_dedup_ingest(stream.filter(h >= "8"), corpus, out, ckpt)
            )
        # materialised before the directory is removed
        return spark.read.parquet(f"{out}/data").select(
            "doc_id", "lang", "source"
        ).localCheckpoint(eager=True)


# the streaming occupancy agg is associative and ranks with the
# identical floor-quantized argmax; snapshot + the same finale ==
# the batch report, so the batch drift-report SQL is the oracle
@query(oracle_of="ivf_incremental_assign")
def q_t20_stream_ivf_drift(spark, sf):
    """T20 — live IVF index-drift telemetry: the ingest half
    (vec_id % 4 = 0) STREAMS through a stateless per-row
    nearest-centroid argmax (centroids baked as a bounded literal) +
    one ≤ n_lists-row streaming agg; the snapshot plus the persisted
    baseline occupancy feeds the SAME drift-report finale as the
    batch ivf_incremental_assign — whose oracle therefore verifies
    this path too."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_ivf_occupancy,
        table_stream,
    )

    emb = _t(spark, sf, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    cd = ex.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    cent = (
        cd.groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
            ).alias("centroid")
        )
        .select(F.col("label").alias("list_id"), "centroid")
    )
    cent_rows = [
        (r["list_id"], list(r["centroid"])) for r in cent.collect()
    ]
    base = topk.ivf_occupancy(
        emb.filter(F.col("vec_id") % 4 != 0), cent, "embedding", "vec_id"
    )
    stream = table_stream(spark, sf, "embeddings")
    live = stream_ivf_occupancy(
        stream.filter(F.col("vec_id") % 4 == 0), cent_rows, "embedding"
    )
    snap = drain_to_memory(live, "t20_ivf_occ")
    return topk.ivf_drift_report(snap, base).orderBy("list_id")


def _adaboost_oracle_sql(n_bins: int = 250, n_rounds: int = 6) -> str:
    """DuckDB twin of adaboost_stumps: the M boosting rounds unrolled
    as MATERIALIZED CTEs (the bpe_train replay pattern) over the
    DENSIFIED bin table — generate_series LEFT JOIN the binned counts,
    so empty bins are candidate thresholds on both engines. Every
    arithmetic step is IEEE +,*,/ and floor on identical operands in
    bin-ascending order (the cumulative windows), so the replay is
    bit-identical to the driver-side round loop with no
    rounding-boundary dice."""
    width = 500.0 / n_bins
    cells1 = f"""
  SELECT g.bin, coalesce(h.pos, 0) AS pos, coalesce(h.neg, 0) AS neg,
         1.0 AS vp, 1.0 AS vn
  FROM (SELECT unnest(range({n_bins})) AS bin) g
  LEFT JOIN (
    SELECT CAST(least(greatest(floor(value / {width}), 0),
                      {n_bins - 1}) AS INT) AS bin,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS pos,
           CAST(count(*) - sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) AS BIGINT) AS neg
    FROM events WHERE value IS NOT NULL GROUP BY 1) h USING (bin)"""
    parts = [f"WITH cells1 AS MATERIALIZED ({cells1})"]
    picks = []
    for m in range(1, n_rounds + 1):
        parts.append(f""",
cum{m} AS MATERIALIZED (
  SELECT bin,
         sum(pos * vp) OVER (ORDER BY bin) AS cp,
         sum(neg * vn) OVER (ORDER BY bin) AS cn,
         sum(pos * vp) OVER () AS tp,
         sum(neg * vn) OVER () AS tn
  FROM cells{m}),
best{m} AS MATERIALIZED (
  SELECT * FROM (
    SELECT bin AS t, 1 AS pol,
           floor((cp + tn - cn) * 1e9) / 1e9 AS eq, tp + tn AS tt
    FROM cum{m}
    UNION ALL
    SELECT bin, -1, floor((tp + tn - (cp + tn - cn)) * 1e9) / 1e9,
           tp + tn
    FROM cum{m})
  ORDER BY eq, t, pol LIMIT 1),
pick{m} AS MATERIALIZED (
  SELECT {m} AS round, t, pol,
         floor(eq / tt * 1e9) / 1e9 AS eps_q,
         CASE WHEN floor(eq / tt * 1e9) / 1e9 > 0
              THEN (1.0 - floor(eq / tt * 1e9) / 1e9)
                   / (floor(eq / tt * 1e9) / 1e9) END AS r_q
  FROM best{m}),
cells{m + 1} AS MATERIALIZED (
  SELECT c.bin, c.pos, c.neg,
         CASE WHEN p.r_q IS NOT NULL AND NOT (
                CASE WHEN p.pol = 1 THEN c.bin > p.t
                     ELSE c.bin <= p.t END)
              THEN c.vp * p.r_q ELSE c.vp END AS vp,
         CASE WHEN p.r_q IS NOT NULL AND (
                CASE WHEN p.pol = 1 THEN c.bin > p.t
                     ELSE c.bin <= p.t END)
              THEN c.vn * p.r_q ELSE c.vn END AS vn
  FROM cells{m} c, pick{m} p)""")
        picks.append(
            f"SELECT CAST(round AS INT) AS round,"
            f" CAST(t AS INT) AS split_bin,"
            f" CAST(pol AS INT) AS polarity, eps_q, r_q FROM pick{m}"
        )
    parts.append(
        "\n" + "\nUNION ALL\n".join(picks) + "\nORDER BY round"
    )
    return "".join(parts)

@query(oracle=_adaboost_oracle_sql(250, 6))
def q_adaboost_stumps(spark, sf):
    """Discrete AdaBoost over binned decision stumps (value grid vs
    the purchase label): ONE distributed histogram pass, then 6
    boosting rounds on the collected 250-row cell table (the DSIR
    bounded-driver-artifact contract). The libm-free formulation —
    reweight by r = (1−ε)/ε, ε 1e-9-floor-quantized, no ln/exp — makes
    the unrolled-CTE DuckDB replay bit-identical with no
    rounding-boundary dice."""
    from pdf_to_vectordb_etl_spark.operators import supervised

    events = _t(spark, sf, "events")
    return supervised.adaboost_stumps(
        events, "value", F.col("event_type") == "purchase",
        n_rounds=6, n_bins=250, lo=0.0, hi=500.0,
    ).orderBy("round")


# equi_depth_bins: the oracle IS the window-function form the
# distributed machinery must replicate bit-for-bit — ntile +
# row_number over the same unique (value, event_id) order
@query(oracle="""
            WITH r AS (
              SELECT value,
                     row_number() OVER (ORDER BY value, event_id) AS rn,
                     ntile(32) OVER (ORDER BY value, event_id) AS bucket
              FROM events WHERE value IS NOT NULL)
            SELECT CAST(bucket AS INT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(rn) AS BIGINT) AS sum_rn,
                   min(value) AS lo_value,
                   max(value) AS hi_value
            FROM r GROUP BY bucket ORDER BY bucket
        """)
def q_equi_depth_bins(spark, sf):
    """Exact global ntile (equi-depth binning) at corpus scale without
    a single-partition Window: range-partition the rows, per-partition
    row_number keyed on the partition id, cumulative per-partition
    count offsets (driver state: one count per partition — the
    global_dense_rank machinery applied to ROW numbering), then the
    standard ntile fill (first N mod n buckets take ceil(N/n)). Order
    key (value, event_id) is unique, so numbering is deterministic;
    the per-bucket sum(rn) checksum pins every row's assignment. NULL
    values filtered on both sides (Spark orders NULLS FIRST, DuckDB
    NULLS LAST)."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    ev = (
        _t(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "value")
    )
    binned = suffixes.global_ntile(
        ev, ["value", "event_id"], 32, rn_col="rn"
    )
    return (
        binned.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum("rn").alias("sum_rn"),
            F.min("value").alias("lo_value"),
            F.max("value").alias("hi_value"),
        )
        .orderBy("bucket")
    )


# skyline_pareto: the independent O(n^2) NOT EXISTS dominance
# filter (maximize-maximize), vs the engine's sorted-scan
# formulation — two algorithms, one frontier
@query(oracle="""
            WITH per_user AS (
              SELECT user_id,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(sum(CAST(floor(value * 1e6) AS BIGINT))
                          AS BIGINT) AS value_units
              FROM events
              WHERE value IS NOT NULL AND user_id IS NOT NULL
              GROUP BY user_id)
            SELECT p.user_id, p.n_events, p.value_units
            FROM per_user p
            WHERE NOT EXISTS (
              SELECT 1 FROM per_user q
              WHERE q.n_events >= p.n_events
                AND q.value_units >= p.value_units
                AND (q.n_events > p.n_events
                     OR q.value_units > p.value_units))
            ORDER BY user_id
        """)
def q_skyline_pareto(spark, sf):
    """2-D skyline (Pareto frontier, Börzsönyi et al. ICDE 2001) over
    per-user engagement: maximize event count AND maximize total value
    (both negated into skyline_2d's canonical minimize-minimize form).
    The engine runs the sorted-scan formulation — one per-x min hash
    agg, range partition, per-partition running minima with a
    one-scalar-per-partition broadcast prefix map — never an O(n^2)
    self-join; the oracle IS the independent O(n^2) NOT EXISTS
    dominance filter. value is 1e-6 floor-quantized per row BEFORE the
    sum so both engines aggregate identical exact integers."""
    from pdf_to_vectordb_etl_spark.operators import spatial

    ev = _t(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 1e6)).cast("long").alias("value_units"),
    )
    return (
        spatial.skyline_2d(per_user, -F.col("n_events"), -F.col("value_units"))
        .select("user_id", "n_events", "value_units")
        .orderBy("user_id")
    )


# mann_whitney_u: the literal one-window cumulative-rank form
# the global_prefix_sum machinery must replicate bit-for-bit
@query(oracle="""
            WITH f AS (
              SELECT value, event_type FROM events
              WHERE value IS NOT NULL
                AND event_type IN ('purchase', 'view')),
            t AS (
              SELECT value,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS BIGINT) AS na,
                     CAST(count(*) AS BIGINT) AS tot
              FROM f GROUP BY value),
            c AS (
              SELECT *,
                     CAST(coalesce(sum(tot) OVER (
                       ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS BIGINT) AS before
              FROM t),
            s AS (
              SELECT
                CAST(coalesce(sum(na * (2 * before + tot + 1)), 0)
                     AS BIGINT) AS two_r1,
                CAST(coalesce(sum(na), 0) AS BIGINT) AS n1,
                CAST(coalesce(sum(tot - na), 0) AS BIGINT) AS n2,
                CAST(coalesce(sum(tot * tot * tot - tot), 0)
                     AS BIGINT) AS tie_sum
              FROM c)
            SELECT n1, n2, two_r1,
                   two_r1 - n1 * (n1 + 1) AS two_u1,
                   tie_sum,
                   CASE WHEN n1 > 0 AND n2 > 0 AND
                     CAST(n1 * n2 AS DOUBLE) / 12.0 *
                       (CAST(n1 + n2 + 1 AS DOUBLE)
                        - CAST(tie_sum AS DOUBLE)
                          / CAST((n1 + n2) * (n1 + n2 - 1) AS DOUBLE))
                     > 0
                   THEN floor(
                     CAST((two_r1 - n1 * (n1 + 1)) - n1 * n2
                          AS DOUBLE) / 2.0
                     / sqrt(CAST(n1 * n2 AS DOUBLE) / 12.0 *
                         (CAST(n1 + n2 + 1 AS DOUBLE)
                          - CAST(tie_sum AS DOUBLE)
                            / CAST((n1 + n2) * (n1 + n2 - 1)
                                   AS DOUBLE)))
                     * 1e6) / 1e6
                   END AS z_q6
            FROM s
        """)
def q_mann_whitney_u(spark, sf):
    """Mann-Whitney U rank-sum test, purchase vs view values: per-
    distinct-value counts (one hash agg), exact exclusive rank offsets
    via global_prefix_sum (range partition + per-partition running
    sums — no global sort anywhere), tie-corrected normal z. All
    counters exact integers (2·R1 stays integral under average ranks);
    the oracle is the literal one-window cumulative form the
    distributed machinery must replicate bit-for-bit (the
    equi_depth_bins pattern)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    ev = _t(spark, sf, "events")
    return evaluation.mann_whitney_u(
        ev, "value", "event_type", "purchase", "view"
    )


# mutual_information: full replay — same fixed-width bins,
# same 1e-9 per-summand floor grid, same finale
@query(oracle="""
            WITH f AS (
              SELECT event_type AS x,
                     least(9, greatest(0,
                       CAST(floor((value - 0.0) / 50.0) AS BIGINT)))
                       AS b
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL),
            cells AS MATERIALIZED (
              SELECT x, b, CAST(count(*) AS BIGINT) AS nxy
              FROM f GROUP BY x, b),
            mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx
                   FROM cells GROUP BY x),
            mb AS (SELECT b, CAST(sum(nxy) AS BIGINT) AS nb
                   FROM cells GROUP BY b),
            tot AS (SELECT CAST(coalesce(sum(nxy), 0) AS BIGINT) AS n
                    FROM cells),
            mi AS (
              SELECT
                CAST(coalesce(sum(CAST(floor(
                  CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE)
                  * ln(CAST(n AS DOUBLE) * CAST(nxy AS DOUBLE)
                       / (CAST(nx AS DOUBLE) * CAST(nb AS DOUBLE)))
                  * 1e9) AS BIGINT)), 0) AS BIGINT) AS mi9,
                CAST(count(*) AS BIGINT) AS n_cells
              FROM cells JOIN mx USING (x) JOIN mb USING (b), tot),
            hx AS (
              SELECT CAST(coalesce(sum(CAST(floor(
                -(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
                * ln(CAST(nx AS DOUBLE) / CAST(n AS DOUBLE))
                * 1e9) AS BIGINT)), 0) AS BIGINT) AS hx9
              FROM mx, tot),
            hy AS (
              SELECT CAST(coalesce(sum(CAST(floor(
                -(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
                * ln(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE))
                * 1e9) AS BIGINT)), 0) AS BIGINT) AS hy9
              FROM mb, tot)
            SELECT n, n_cells,
                   floor(mi9 / 1e9 * 1e6) / 1e6 AS mi_q,
                   floor(hx9 / 1e9 * 1e6) / 1e6 AS h_x_q,
                   floor(hy9 / 1e9 * 1e6) / 1e6 AS h_y_q,
                   CASE WHEN hx9 > 0 AND hy9 > 0
                        THEN floor(mi9 / 1e9
                                   / sqrt(hx9 / 1e9 * (hy9 / 1e9))
                                   * 1e6) / 1e6
                   END AS nmi_q
            FROM tot, mi, hx, hy
        """)
def q_mutual_information(spark, sf):
    """Binned mutual information + marginal entropies + NMI between
    event_type and a fixed-width value binning: one corpus hash agg
    into <= |types|·10 cells, marginals as bounded-table aggs +
    broadcast joins (no Windows), every summand 1e-9 floor-quantized
    BEFORE the exact-integer cell sum so partition order can never
    move the total (the hyperball convention)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    ev = _t(spark, sf, "events")
    return evaluation.mutual_information(
        ev, "event_type", "value", 0.0, 500.0, 10
    )


# target_encode_loo: exact-integer LOO ratio replay
@query(oracle="""
            WITH base AS (
              SELECT event_id, event_type AS c,
                     CAST(value >= 250 AS BIGINT) AS y
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL),
            pc AS (
              SELECT c, CAST(sum(y) AS BIGINT) AS s,
                     CAST(count(*) AS BIGINT) AS n
              FROM base GROUP BY c),
            g AS (
              SELECT CAST(coalesce(sum(y), 0) AS BIGINT) AS gs,
                     CAST(count(*) AS BIGINT) AS gn
              FROM base)
            SELECT b.event_id, b.c AS event_type, b.y,
                   CASE WHEN (n - 1 + 20) * gn > 0
                        THEN floor(((s - b.y) * gn + 20 * gs)
                                   * 1000000
                                   / ((n - 1 + 20) * gn)) / 1e6
                   END AS enc_q6
            FROM base b JOIN pc USING (c) CROSS JOIN g
            ORDER BY event_id
        """)
def q_target_encode_loo(spark, sf):
    """Leave-one-out target encoding (Micci-Barreca 2001) of
    event_type against a high-value label: per-category sufficient
    statistics + one broadcast join back; the encoding is ONE exact-
    integer ratio ((s−y)·N + m·S)/((n−1+m)·N) floor-quantized at 1e-6
    — bit-identical across engines with zero float dice."""
    from pdf_to_vectordb_etl_spark.operators import supervised

    ev = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    return supervised.target_encode_loo(
        ev,
        "event_type",
        (F.col("value") >= 250).cast("int"),
        ["event_id"],
        smoothing=20,
    ).orderBy("event_id")


# acf_daily_revenue: lag self-join replay with the identical
# exact-integer sufficient statistics and closed form
@query(oracle="""
            WITH daily AS MATERIALIZED (
              SELECT date_diff('day', DATE '1970-01-01', o_orderdate)
                       AS t,
                     CAST(sum(CAST(floor(o_totalprice) AS BIGINT))
                          AS BIGINT) // 100 AS x
              FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
            lags AS (SELECT unnest(generate_series(1, 10)) AS lag),
            pairs AS (
              SELECT l.lag, a.x AS xv, b.x AS yv
              FROM daily a
              CROSS JOIN lags l
              JOIN daily b ON b.t = a.t + l.lag),
            s AS (
              SELECT lag,
                     CAST(count(*) AS BIGINT) AS n_pairs,
                     CAST(sum(xv) AS BIGINT) AS sx,
                     CAST(sum(yv) AS BIGINT) AS sy,
                     CAST(sum(xv * xv) AS BIGINT) AS sxx,
                     CAST(sum(yv * yv) AS BIGINT) AS syy,
                     CAST(sum(xv * yv) AS BIGINT) AS sxy
              FROM pairs GROUP BY lag)
            SELECT CAST(lag AS INT) AS lag, n_pairs,
                   CASE WHEN n_pairs >= 2
                         AND CAST(n_pairs AS HUGEINT) * sxx
                             - CAST(sx AS HUGEINT) * sx > 0
                         AND CAST(n_pairs AS HUGEINT) * syy
                             - CAST(sy AS HUGEINT) * sy > 0
                   THEN floor(
                     CAST(CAST(n_pairs AS HUGEINT) * sxy
                          - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                     / (sqrt(CAST(CAST(n_pairs AS HUGEINT) * sxx
                                  - CAST(sx AS HUGEINT) * sx
                                  AS DOUBLE))
                        * sqrt(CAST(CAST(n_pairs AS HUGEINT) * syy
                                    - CAST(sy AS HUGEINT) * sy
                                    AS DOUBLE)))
                     * 1e6) / 1e6
                   END AS r_q6
            FROM s ORDER BY lag
        """)
def q_acf_daily_revenue(spark, sf):
    """Autocorrelation function of the daily order-revenue series,
    lags 1..10: the series is one corpus hash agg (exact integer
    revenue units, // 100 to bound the int64 products), the per-lag
    pairs are one broadcast lags-explode + self-equi-join on the day
    key, and each lag folds five exact-integer sufficient statistics
    with the textbook closed-form finale 1e-6 floor-quantized.
    Positive-revenue contract makes Spark `div` (truncate) and DuckDB
    `//` (floor) agree."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    o = _t(spark, sf, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = (
        o.groupBy(
            F.datediff(
                "o_orderdate", F.lit("1970-01-01").cast("date")
            ).alias("day")
        )
        .agg(
            F.sum(F.floor("o_totalprice")).cast("long").alias("units")
        )
        .select("day", F.expr("units div 100").alias("x"))
    )
    return aggregates.autocorr_lags(daily, "day", "x", 10)


# spearman_rho: literal cumulative-window average ranks,
# doubled-centered exactly like the engine (Σa = 0 identity)
@query(oracle="""
            WITH r0 AS MATERIALIZED (
              SELECT value AS x, epoch_ns(ts) AS y FROM events
              WHERE value IS NOT NULL AND ts IS NOT NULL),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r0),
            tx AS (
              SELECT x, CAST(count(*) AS BIGINT) AS t FROM r0 GROUP BY x),
            cx AS (
              SELECT x, 2 * CAST(coalesce(sum(t) OVER (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                       PRECEDING), 0) AS BIGINT) + t + 1 AS rx
              FROM tx),
            ty AS (
              SELECT y, CAST(count(*) AS BIGINT) AS t FROM r0 GROUP BY y),
            cy AS (
              SELECT y, 2 * CAST(coalesce(sum(t) OVER (ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                       PRECEDING), 0) AS BIGINT) + t + 1 AS ry
              FROM ty),
            ab AS (
              SELECT rx - (n + 1) AS a, ry - (n + 1) AS b
              FROM r0 JOIN cx USING (x) JOIN cy USING (y), nn),
            s AS (
              SELECT
                CAST(coalesce(sum(a * b), 0) AS BIGINT) AS sab,
                CAST(coalesce(sum(a * a), 0) AS BIGINT) AS saa,
                CAST(coalesce(sum(b * b), 0) AS BIGINT) AS sbb
              FROM ab)
            SELECT (SELECT n FROM nn) AS n,
                   sab, saa, sbb,
                   CASE WHEN (SELECT n FROM nn) >= 2 AND saa > 0
                             AND sbb > 0
                   THEN floor(CAST(sab AS DOUBLE)
                              / (sqrt(CAST(saa AS DOUBLE))
                                 * sqrt(CAST(sbb AS DOUBLE)))
                              * 1e6) / 1e6
                   END AS rho_q6
            FROM s
        """)
def q_spearman_rho(spark, sf):
    """Spearman rank correlation between event value and event time
    (does the metric trend?): tie-aware average ranks from per-
    distinct-value counts + global_prefix_sum (no global sort),
    doubled-centered so Σa = 0 exactly and the finale is three exact
    int64 sums + one deterministic double ratio. The oracle is the
    literal cumulative-window form."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    # _t() canonicalizes ts to bigint epoch-nanos; ranks only need
    # the ordering, so the raw nanos column is the second variable
    ev = _t(spark, sf, "events").select("value", "ts")
    return evaluation.spearman_rho(ev, "value", "ts")


# anova_value_by_type: per-group exact sufficient statistics,
# 1e-9-floored s²/n terms, identical closed-form finale
@query(oracle="""
            WITH g AS (
              SELECT event_type,
                     CAST(count(*) AS BIGINT) AS gn,
                     CAST(sum(CAST(floor(value * 100) AS BIGINT))
                          AS BIGINT) AS gs,
                     CAST(sum(CAST(floor(value * 100) AS BIGINT)
                              * CAST(floor(value * 100) AS BIGINT))
                          AS BIGINT) AS gss
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL
              GROUP BY event_type),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS k,
                     CAST(coalesce(sum(gn), 0) AS BIGINT) AS n,
                     CAST(coalesce(sum(gs), 0) AS BIGINT) AS sm,
                     CAST(coalesce(sum(gss), 0) AS BIGINT) AS ss,
                     CAST(coalesce(sum(CAST(floor(
                       CAST(gs AS DOUBLE) * CAST(gs AS DOUBLE)
                       / CAST(gn AS DOUBLE) * 1e3) AS BIGINT)), 0)
                       AS BIGINT) AS gq3
              FROM g)
            SELECT k, n,
                   floor((gq3 / 1e3
                          - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                            / CAST(n AS DOUBLE)) * 1e3) / 1e3
                     AS ssb_q,
                   floor((CAST(ss AS DOUBLE)
                          - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                            / CAST(n AS DOUBLE)) * 1e3) / 1e3
                     AS sst_q,
                   CASE WHEN k >= 2 AND n > k
                         AND CAST(ss AS DOUBLE) - gq3 / 1e3 > 0
                   THEN floor(
                     ((gq3 / 1e3
                       - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                         / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
                     / ((CAST(ss AS DOUBLE) - gq3 / 1e3)
                        / CAST(n - k AS DOUBLE)) * 1e6) / 1e6
                   END AS f_q6,
                   CASE WHEN CAST(ss AS DOUBLE)
                             - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                               / CAST(n AS DOUBLE) > 0
                   THEN floor(
                     (gq3 / 1e3
                      - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     / (CAST(ss AS DOUBLE)
                        - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
                          / CAST(n AS DOUBLE)) * 1e6) / 1e6
                   END AS eta2_q6
            FROM s
        """)
def q_anova_value_by_type(spark, sf):
    """One-way ANOVA F across event types on the 1e-2-grid value:
    one corpus hash agg to per-group exact int64 (n, Σx, Σx²), the
    per-group s²/n terms 1e-9-floored BEFORE the cross-group sum
    (partition-order-proof at any group count), closed-form F and
    eta² finales."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    ev = _t(spark, sf, "events")
    return evaluation.anova_oneway(ev, "value", "event_type", scale=100)


# cramers_v: present-cell replay + closed-form absent fold
@query(oracle="""
            WITH f AS (
              SELECT event_type AS x,
                     least(9, greatest(0,
                       CAST(floor((value - 0.0) / 50.0) AS BIGINT)))
                       AS b
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL),
            cells AS MATERIALIZED (
              SELECT x, b, CAST(count(*) AS BIGINT) AS nxy
              FROM f GROUP BY x, b),
            mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx
                   FROM cells GROUP BY x),
            mb AS (SELECT b, CAST(sum(nxy) AS BIGINT) AS nb
                   FROM cells GROUP BY b),
            tot AS (SELECT CAST(coalesce(sum(nxy), 0) AS BIGINT) AS n
                    FROM cells),
            pres AS (
              SELECT
                CAST(coalesce(sum(CAST(floor(
                  (CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE)
                   - CAST(nx AS DOUBLE) * CAST(nb AS DOUBLE))
                  * (CAST(nxy AS DOUBLE) * CAST(n AS DOUBLE)
                     - CAST(nx AS DOUBLE) * CAST(nb AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(nx AS DOUBLE)
                     * CAST(nb AS DOUBLE))
                  * 1e9) AS BIGINT)), 0) AS BIGINT) AS p9,
                CAST(coalesce(sum(CAST(floor(
                  CAST(nx AS DOUBLE) * CAST(nb AS DOUBLE)
                  / CAST(n AS DOUBLE) * 1e9) AS BIGINT)), 0)
                  AS BIGINT) AS e9
              FROM cells JOIN mx USING (x) JOIN mb USING (b), tot),
            rl AS (SELECT CAST(count(*) AS BIGINT) AS r_levels FROM mx),
            cl AS (SELECT CAST(count(*) AS BIGINT) AS c_levels FROM mb)
            SELECT n, r_levels, c_levels,
                   CASE WHEN n > 0
                   THEN floor((p9 / 1e9
                               + (CAST(n AS DOUBLE) - e9 / 1e9))
                              * 1e3) / 1e3
                   END AS chi2_q,
                   CASE WHEN n > 0 AND least(r_levels - 1,
                                             c_levels - 1) >= 1
                   THEN floor(sqrt(
                     (p9 / 1e9 + (CAST(n AS DOUBLE) - e9 / 1e9))
                     / (CAST(n AS DOUBLE)
                        * CAST(least(r_levels - 1, c_levels - 1)
                               AS DOUBLE))) * 1e6) / 1e6
                   END AS v_q6
            FROM tot, pres, rl, cl
        """)
def q_cramers_v(spark, sf):
    """Pearson chi-square + Cramér's V on the event_type × value-bin
    contingency table (same fixed-width bins as mutual_information):
    per-present-cell (O·N−E')²/(N·nx·nb) terms 1e-9-floored before the
    exact sum; absent cells fold in closed form as N − Σ_present E so
    the sparse cell table never densifies."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    ev = _t(spark, sf, "events")
    return evaluation.chi_square_cramers_v(
        ev, "event_type", "value", 0.0, 500.0, 10
    )


@query(oracle=r"""
            WITH RECURSIVE d0 AS (
              SELECT doc_id AS id,
                     trim(regexp_replace(
                       lower(regexp_replace(text, '[^\x20-\x7e]', '',
                                            'g')),
                       '\s+', ' ', 'g')) AS t
              FROM documents),
            words AS (
              SELECT id,
                     CASE WHEN t = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split(t, ' ') END AS rwf
              FROM d0),
            pairs AS MATERIALIZED (
              SELECT id,
                     rwf[1:256] AS rw,
                     list_transform(
                       list_filter(generate_series(1, len(rwf)),
                                   i -> i % 7 != 0)[1:256],
                       i -> rwf[i]) AS cw,
                     CASE WHEN len(rwf) > 256
                            OR len(list_filter(
                                 generate_series(1, len(rwf)),
                                 i -> i % 7 != 0)) > 256
                          THEN 1 ELSE 0 END AS trunc
              FROM words),
            dims AS MATERIALIZED (
              SELECT id, cw, rw, len(cw) AS m, len(rw) AS n, trunc
              FROM pairs),
            dp AS (
              SELECT id, m, n, 1 AS dg,
                     list_transform(generate_series(0, m), i -> 0)
                       AS p1,
                     list_transform(generate_series(0, m), i -> 0)
                       AS p2
              FROM dims WHERE m >= 1 AND n >= 1
              UNION ALL
              SELECT dp.id, dp.m, dp.n, dp.dg + 1,
                     list_transform(generate_series(0, dp.m),
                       i -> CASE WHEN i >= 1 AND dp.dg + 1 - i >= 1
                                  AND dp.dg + 1 - i <= dp.n
                            THEN CASE WHEN x.cw[i]
                                       = x.rw[dp.dg + 1 - i]
                                 THEN dp.p2[i] + 1
                                 ELSE greatest(dp.p1[i],
                                               dp.p1[i + 1]) END
                            ELSE 0 END),
                     dp.p1
              FROM dp JOIN dims x ON x.id = dp.id
              WHERE dp.dg < dp.m + dp.n),
            lcs AS (
              SELECT z.id,
                     CASE WHEN z.m >= 1 AND z.n >= 1
                          THEN (SELECT p1[z.m + 1] FROM dp
                                WHERE dp.id = z.id
                                  AND dp.dg = z.m + z.n)
                          ELSE 0 END AS l,
                     z.m, z.n, z.trunc
              FROM dims z),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                     CAST(coalesce(sum(l), 0) AS BIGINT) AS lcs_sum,
                     CAST(coalesce(sum(m), 0) AS BIGINT) AS c_words,
                     CAST(coalesce(sum(n), 0) AS BIGINT) AS r_words,
                     CAST(coalesce(sum(trunc), 0) AS BIGINT)
                       AS truncated_pairs
              FROM lcs)
            SELECT n_pairs, lcs_sum, c_words, r_words, truncated_pairs,
                   CASE WHEN c_words > 0
                        THEN floor(lcs_sum * 1000000 / c_words) / 1e6
                   END AS rl_p_q6,
                   CASE WHEN r_words > 0
                        THEN floor(lcs_sum * 1000000 / r_words) / 1e6
                   END AS rl_r_q6,
                   CASE WHEN c_words > 0 AND r_words > 0
                        AND lcs_sum > 0
                   THEN floor(
                     2 * (CAST(lcs_sum AS DOUBLE) / c_words)
                       * (CAST(lcs_sum AS DOUBLE) / r_words)
                     / (CAST(lcs_sum AS DOUBLE) / c_words
                        + CAST(lcs_sum AS DOUBLE) / r_words)
                     * 1e6) / 1e6
                   WHEN c_words > 0 AND r_words > 0 THEN 0.0
                   END AS rl_f_q6
            FROM s
        """)
def q_rouge_l(spark, sf):
    """Corpus ROUGE-L over the same (candidate, reference) pairs as
    bleu_rouge: per-pair LCS as an anti-diagonal wavefront DP in
    array HOFs (cells on a diagonal are independent → one parallel
    transform per step of a bounded aggregate loop; O(m·n) work,
    256-word cap, tiered: HOF wavefront for small pairs, the same
    recurrence vectorized in numpy via pandas UDF for large ones,
    truncation count reported). The oracle replays the identical
    wavefront as a recursive CTE over diagonals — same recurrence,
    independently implemented."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.lower(
            F.regexp_replace("text", r"[^\x20-\x7e]", "")
        ).alias("t"),
    )
    ws = F.split(F.trim(F.regexp_replace(F.col("t"), r"\s+", " ")), " ")
    pairs = docs.select(
        F.col("doc_id").alias("id"),
        F.array_join(
            F.filter(ws, lambda w, i: (i + 1) % 7 != 0), " "
        ).alias("cand"),
        F.col("t").alias("ref"),
    ).repartition(spark.sparkContext.defaultParallelism)
    return evaluation.rouge_l_corpus(
        pairs, "cand", "ref", "id", max_words=256
    )


# rouge_l: the identical anti-diagonal wavefront recurrence,
# independently implemented as a recursive CTE over diagonals
# pass@k: integer-exact falling-factorial ratio in HUGEINT,
# micro-unit mean via integer division (mirrors DECIMAL(38,0)
# + div on the Spark side)
@query(oracle=r"""
            WITH per AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS BIGINT) AS c
              FROM events GROUP BY user_id),
            u AS (
              SELECT 1 AS k,
                     CAST(count(*) AS BIGINT) AS n_problems,
                     CAST(coalesce(sum(
                       1000000 - ((CAST(greatest(n - c - 0, 0) AS HUGEINT)) * 1000000
                                  + (CAST(n - 0 AS HUGEINT)) - 1) // (CAST(n - 0 AS HUGEINT))), 0)
                          AS HUGEINT) AS sm
              FROM per WHERE n >= 1
              UNION ALL
              SELECT 3 AS k,
                     CAST(count(*) AS BIGINT) AS n_problems,
                     CAST(coalesce(sum(
                       1000000 - ((CAST(greatest(n - c - 0, 0) AS HUGEINT)*CAST(greatest(n - c - 1, 0) AS HUGEINT)*CAST(greatest(n - c - 2, 0) AS HUGEINT)) * 1000000
                                  + (CAST(n - 0 AS HUGEINT)*CAST(n - 1 AS HUGEINT)*CAST(n - 2 AS HUGEINT)) - 1) // (CAST(n - 0 AS HUGEINT)*CAST(n - 1 AS HUGEINT)*CAST(n - 2 AS HUGEINT))), 0)
                          AS HUGEINT) AS sm
              FROM per WHERE n >= 3
              UNION ALL
              SELECT 5 AS k,
                     CAST(count(*) AS BIGINT) AS n_problems,
                     CAST(coalesce(sum(
                       1000000 - ((CAST(greatest(n - c - 0, 0) AS HUGEINT)*CAST(greatest(n - c - 1, 0) AS HUGEINT)*CAST(greatest(n - c - 2, 0) AS HUGEINT)*CAST(greatest(n - c - 3, 0) AS HUGEINT)*CAST(greatest(n - c - 4, 0) AS HUGEINT)) * 1000000
                                  + (CAST(n - 0 AS HUGEINT)*CAST(n - 1 AS HUGEINT)*CAST(n - 2 AS HUGEINT)*CAST(n - 3 AS HUGEINT)*CAST(n - 4 AS HUGEINT)) - 1) // (CAST(n - 0 AS HUGEINT)*CAST(n - 1 AS HUGEINT)*CAST(n - 2 AS HUGEINT)*CAST(n - 3 AS HUGEINT)*CAST(n - 4 AS HUGEINT))), 0)
                          AS HUGEINT) AS sm
              FROM per WHERE n >= 5)
            SELECT k, n_problems,
                   CASE WHEN n_problems > 0
                        THEN CAST(sm // n_problems AS BIGINT) / 1e6
                   END AS pass_rate_q6
            FROM u
        """)
def q_pass_at_k(spark, sf):
    """Unbiased pass@k (Chen et al. 2021) over per-user event trials:
    problem = user, trial = event, success = purchase. The falling-
    factorial binomial ratio runs in exact DECIMAL(38,0) integer
    products with integer ceil-division into 1e-6 micro-units — no
    float anywhere, so the oracle replays it bit-for-bit in HUGEINT."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    ev = _t(spark, sf, "events")
    trials = ev.select(
        "user_id", (F.col("event_type") == "purchase").alias("ok")
    )
    return evaluation.pass_at_k(trials, "user_id", "ok", ks=(1, 3, 5))


# Shared unigram-LM encode CTE chain (seed pieces + integer Viterbi
# k-DP): prefix of the unigram_lm_encode AND tokenizer_fertility
# oracles — one definition, two finales.
_UNIGRAM_ENCODE_CTES = r"""
            WITH RECURSIVE d2 AS (
              SELECT doc_id,
                     lower(regexp_replace(text, '[^\x20-\x7e]', '', 'g'))
                       AS t
              FROM documents),
            stream AS MATERIALIZED (
              SELECT doc_id, w
              FROM (SELECT doc_id,
                           unnest(string_split_regex(t, '\s+')) AS w
                    FROM d2)
              WHERE length(w) > 0),
            w0 AS (
              SELECT w, CAST(count(*) AS BIGINT) AS freq,
                     CAST(length(w) AS INT) AS wlen
              FROM stream WHERE length(w) <= 12
              GROUP BY w),
            occ2 AS MATERIALIZED (
              SELECT w, wlen, s.i AS i, s.j AS j,
                     substr(w, s.i + 1, s.j - s.i) AS piece, freq
              FROM (SELECT w, freq, wlen,
                           unnest(flatten(list_transform(
                             generate_series(0, wlen - 1),
                             i -> list_transform(
                               generate_series(i + 1, least(i + 4, wlen)),
                               j -> {'i': i, 'j': j})))) AS s
                    FROM w0)),
            sc AS (
              SELECT piece, CAST(sum(freq) AS BIGINT) AS n
              FROM occ2 GROUP BY piece),
            p0 AS MATERIALIZED (
              SELECT piece FROM sc WHERE length(piece) = 1
              UNION ALL
              SELECT piece FROM (
                SELECT piece, n FROM sc
                WHERE length(piece) > 1 AND n >= 2
                ORDER BY n DESC, piece
                LIMIT 64)),
            eg AS MATERIALIZED (
              SELECT o.w, any_value(o.wlen) AS wlen,
                     list(DISTINCT {'i': o.i, 'j': o.j}) AS edges
              FROM occ2 o JOIN p0 p USING (piece)
              GROUP BY o.w),
            dp AS (
              SELECT w, wlen, 0 AS iter,
                     list_transform(generate_series(0, wlen),
                       p -> CASE WHEN p = 0 THEN 0
                                 ELSE 1048576 END) AS dp
              FROM eg
              UNION ALL
              SELECT d.w, d.wlen, d.iter + 1,
                     list_transform(generate_series(0, d.wlen),
                       p -> CASE WHEN p = d.iter + 1
                            THEN coalesce(list_min(list_transform(
                                   list_filter(x.edges,
                                     e -> e.j = d.iter + 1),
                                   e -> d.dp[e.i + 1] + 1)), 1048576)
                            ELSE d.dp[p + 1] END)
              FROM dp d JOIN eg x USING (w)
              WHERE d.iter < d.wlen),
            wk AS MATERIALIZED (
              SELECT w, dp[wlen + 1] AS k
              FROM dp WHERE iter = wlen),
            per AS (
              SELECT s.doc_id,
                     CAST(count(*) AS BIGINT) AS n_words,
                     CAST(sum(CASE WHEN k IS NULL OR k >= 1048576
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_oov_words,
                     CAST(sum(CASE WHEN k < 1048576 THEN k
                              ELSE 0 END) AS BIGINT) AS n_tokens
              FROM stream s LEFT JOIN wk USING (w)
              GROUP BY s.doc_id)
"""

# encode: seed table rebuilt from substring counts, then ONE
# k-only Viterbi recursion (min piece count needs no tiebreak
# payload), joined back to the per-doc word stream
@query(oracle=_UNIGRAM_ENCODE_CTES + r"""
            SELECT d.doc_id,
                   CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
                   CAST(coalesce(p.n_oov_words, 0) AS BIGINT)
                     AS n_oov_words,
                   CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens
            FROM documents d LEFT JOIN per p USING (doc_id)
        """)
def q_unigram_lm_encode(spark, sf):
    """Unigram-LM tokenizer APPLY: encode the ASCII-projected corpus
    with a seed piece table (chars + top-64 frequent substrings —
    derived deterministically, so the oracle can rebuild it without
    replaying EM), reporting per-doc Viterbi token and OOV counts.
    DP cost is vocab-sized (distinct words segment once). The oracle
    only needs the k-component of the DP (any min-piece path has the
    same count), so its recursion carries a plain INTEGER list."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    docs = _t(spark, sf, "documents")
    d2 = docs.select(
        "doc_id",
        F.regexp_replace("text", r"[^\x20-\x7e]", "").alias("text"),
    )
    pieces = ta.unigram_seed_pieces(
        d2, vocab_size=64, seed_cap_factor=1, max_piece_len=4,
        max_word_len=12, min_count=2,
    )
    return ta.unigram_lm_encode(d2, pieces, max_piece_len=4, max_word_len=12)


@query(oracle=r"""
            WITH f AS (
              SELECT doc_id, source,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS n_words,
                     length(regexp_replace(text, '\s', '', 'g')) AS n_word_chars,
                     len(regexp_extract_all(text, '#')) AS n_hash,
                     len(regexp_extract_all(text, '\.\.\.|…')) AS n_ellipsis,
                     len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS n_alpha,
                     len(string_split(text, chr(10))) AS n_lines,
                     len(regexp_extract_all(text, '(?m)^[ \t]*[-•*][ \t]'))
                       AS n_bullet_lines,
                     len(regexp_extract_all(text, '(?m)(\.\.\.|…)[ \t]*$'))
                       AS n_ellipsis_lines,
                     (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
                      + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END)
                       AS stop_hits
              FROM (SELECT * REPLACE (regexp_replace(
                      coalesce(text, ''), '\r\n?', chr(10), 'g') AS text)
                    FROM documents) documents),
            g AS (
              SELECT doc_id, source, n_words, stop_hits,
                     floor((CASE WHEN n_words > 0
                            THEN n_word_chars * 1.0 / n_words ELSE 0.0 END) * 1e6) / 1e6
                       AS mean_word_len,
                     floor((CASE WHEN n_words > 0
                            THEN (n_hash + n_ellipsis) * 1.0 / n_words ELSE 0.0 END) * 1e6) / 1e6
                       AS symbol_word_ratio,
                     floor((CASE WHEN n_lines > 0
                            THEN n_bullet_lines * 1.0 / n_lines ELSE 0.0 END) * 1e6) / 1e6
                       AS bullet_line_frac,
                     floor((CASE WHEN n_lines > 0
                            THEN n_ellipsis_lines * 1.0 / n_lines ELSE 0.0 END) * 1e6) / 1e6
                       AS ellipsis_line_frac,
                     floor((CASE WHEN n_words > 0
                            THEN n_alpha * 1.0 / n_words ELSE 0.0 END) * 1e6) / 1e6
                       AS alpha_word_frac
              FROM f),
            r AS (
              SELECT source,
                     (CASE WHEN n_words >= 50 THEN 0 ELSE 1 END
                      + CASE WHEN n_words <= 100000 THEN 0 ELSE 2 END
                      + CASE WHEN mean_word_len >= 3.0 THEN 0 ELSE 4 END
                      + CASE WHEN mean_word_len <= 10.0 THEN 0 ELSE 8 END
                      + CASE WHEN symbol_word_ratio <= 0.1 THEN 0 ELSE 16 END
                      + CASE WHEN bullet_line_frac <= 0.9 THEN 0 ELSE 32 END
                      + CASE WHEN ellipsis_line_frac <= 0.3 THEN 0 ELSE 64 END
                      + CASE WHEN alpha_word_frac >= 0.8 THEN 0 ELSE 128 END
                      + CASE WHEN stop_hits >= 2 THEN 0 ELSE 256 END) AS mask
              FROM g)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN mask = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_pass,
                   CAST(bit_or(mask) AS INTEGER) AS fail_bits_seen
            FROM r GROUP BY source
        """)
def q_gopher_by_source(spark, sf):
    """Per-source Gopher-gate telemetry: admitted/rejected counts and
    the OR of failed-rule bits — the batch twin (and oracle) of the
    T29 streaming gate. Bounded output: one row per source."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        gopher_quality_gate,
    )

    docs = _t(spark, sf, "documents")
    gated = gopher_quality_gate(docs)
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("gopher_pass").cast("int")).cast("long").alias("n_pass"),
        F.bit_or("gopher_fail_mask").cast("int").alias("fail_bits_seen"),
    )


@query(oracle_of="gopher_by_source")
def q_t29_stream_gopher_gate(spark, sf):
    """T29 — streaming Gopher-gate telemetry: the per-row stateless
    rule projection over the document ingest stream, folded into one
    associative (n_docs, n_pass, fail-bit OR) row per source.
    Snapshot == the batch gopher_by_source, whose SQL is the oracle."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_quality_gate_totals,
        table_stream,
    )

    batch_docs = spark.read.parquet(f"{sf}/documents.parquet")
    stream = table_stream(spark, sf, "documents")
    live = stream_quality_gate_totals(stream, "source")
    return drain_to_memory(live, "t29_gopher_gate").orderBy("source")


# KS: integer CDF-gap max; float ops mirror the operator's
# exact order (d first, then *1e6; sqrt is IEEE-exact)
@query(oracle=r"""
            WITH base AS (
              SELECT value AS v,
                     substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                       AS arm
              FROM events WHERE value IS NOT NULL),
            tot AS (
              SELECT CAST(coalesce(sum(CASE WHEN arm THEN 1 ELSE 0 END),
                                   0) AS BIGINT) AS n1,
                     CAST(coalesce(sum(CASE WHEN arm THEN 0 ELSE 1 END),
                                   0) AS BIGINT) AS n2
              FROM base),
            per AS (
              SELECT v,
                     CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT)
                       AS c1,
                     CAST(sum(CASE WHEN arm THEN 0 ELSE 1 END) AS BIGINT)
                       AS c2
              FROM base GROUP BY v),
            walk AS (
              SELECT sum(c1) OVER (ORDER BY v) AS cum1,
                     sum(c2) OVER (ORDER BY v) AS cum2
              FROM per),
            d AS (
              SELECT max(abs(cum1 * (SELECT n2 FROM tot)
                             - cum2 * (SELECT n1 FROM tot))) AS dn
              FROM walk)
            SELECT n1, n2,
                   CASE WHEN n1 > 0 AND n2 > 0
                        THEN CAST(dn AS BIGINT) END AS d_num,
                   CASE WHEN n1 > 0 AND n2 > 0
                        THEN floor((dn * 1.0 / (n1 * n2)) * 1e6) / 1e6
                   END AS d_q6,
                   CASE WHEN n1 > 0 AND n2 > 0
                        THEN floor((dn * 1.0 / (n1 * n2))
                                   * sqrt((n1 * n2) * 1.0 / (n1 + n2))
                                   * 1e6) / 1e6
                   END AS ks_lambda_q6
            FROM tot, d
        """)
def q_ks_two_sample(spark, sf):
    """Two-sample Kolmogorov-Smirnov D over event values between two
    md5-bucket arms — exact integer CDF-gap max via ONE packed
    global_prefix_sum walk (no single-partition window), one division
    at the end. NULL-value rows filtered on both sides."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    ev = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    arm = F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8"
    return evaluation.ks_two_sample(
        ev.select(F.col("value").alias("x"), arm.alias("arm")), "x", "arm"
    )


# Kneser-Ney per-doc score SQL — shared verbatim by the ta_kneser_ney
# oracle and (as a subquery) the ccnet_ppl_buckets tertile replay.
# KN scored-bigram relation (doc_id, w1, w2, p) — the model CTEs
# shared by the per-doc fold, the CCNet tertile replay, and the
# min-K% bottom-k selection.
_KN_SCORED_SQL = r"""
            WITH toks AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\s+')) AS tok,
                     unnest(range(len(string_split_regex(lower(text), '\s+')))) AS pos
              FROM documents),
            t2 AS (SELECT * FROM toks WHERE tok <> ''),
            big AS (
              SELECT doc_id, tok AS w1,
                     lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              FROM t2),
            b2 AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
            bc AS (SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY w1, w2),
            hist AS (
              SELECT w1, sum(c12) AS c1, count(*) AS n1_fwd
              FROM bc GROUP BY w1),
            cont AS (SELECT w2, count(*) AS n1_bwd FROM bc GROUP BY w2),
            nb AS (SELECT count(*) AS b FROM bc),
            scored AS (
              SELECT b2.doc_id, b2.w1, b2.w2,
                     greatest(
                       greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0)
                         / c1
                       + (0.75 * n1_fwd / c1)
                         * (coalesce(n1_bwd, 0) / CAST(b AS DOUBLE)),
                       1e-9) AS p
              FROM b2
              JOIN bc USING (w1, w2)
              JOIN hist USING (w1)
              JOIN cont USING (w2)
              CROSS JOIN nb)
            SELECT doc_id, w1, w2, p FROM scored
        """

_KN_ORACLE_SQL = f"""
            SELECT doc_id, round(avg(ln(p)), 4) AS kn_score,
                   CAST(count(*) AS BIGINT) AS n_bigrams
            FROM ({_KN_SCORED_SQL}) GROUP BY doc_id
        """

@query(oracle=_KN_ORACLE_SQL)
def q_ta_kneser_ney(spark, sf):
    """Interpolated Kneser-Ney bigram LM quality score per document
    (the KenLM/CCNet smoothing family; d = 0.75), self-trained on the
    corpus so every scored bigram is in-model. All model quantities
    are exact-integer-count ratios; only the final mean ln is float
    (round-4, the ta_bigram_lm precedent)."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    docs = _t(spark, sf, "documents")
    return ta.kneser_ney_scores(docs)


def _curation_pipeline_oracle_sql() -> str:
    """One SQL chain replaying the whole curation funnel — each stage
    is the SAME fragment as its standalone oracle (gopher_by_source's
    rule CTEs, dedup_drop's recursive components, curation_
    contamination's 8-gram join, ta_kneser_ney's model), scoped to the
    previous stage's survivors. MATERIALIZED per stage (every stage is
    referenced by at least two later ones — the k-center lesson)."""
    return r"""
        WITH RECURSIVE dd AS MATERIALIZED (
          SELECT doc_id, text, lang, source,
                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hb
          FROM documents),
        corpus AS MATERIALIZED (SELECT * FROM dd WHERE hb >= '14'),
        gf AS (
          SELECT doc_id,
                 CASE WHEN length(trim(text)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(text), '\s+')) END
                   AS n_words,
                 length(regexp_replace(text, '\s', '', 'g')) AS n_word_chars,
                 len(regexp_extract_all(text, '#')) AS n_hash,
                 len(regexp_extract_all(text, '\.\.\.|…')) AS n_ellipsis,
                 len(regexp_extract_all(text, '\S*[A-Za-z]\S*')) AS n_alpha,
                 len(string_split(text, chr(10))) AS n_lines,
                 len(regexp_extract_all(text, '(?m)^[ \t]*[-•*][ \t]'))
                   AS n_bullet_lines,
                 len(regexp_extract_all(text, '(?m)(\.\.\.|…)[ \t]*$'))
                   AS n_ellipsis_lines,
                 (CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
                  + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
                  + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
                  + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
                  + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
                  + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
                  + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
                  + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END)
                   AS stop_hits
          FROM (SELECT * REPLACE (regexp_replace(
                  text, '\r\n?', chr(10), 'g') AS text)
                FROM corpus) corpus),
        gq AS (
          SELECT doc_id, n_words, stop_hits,
                 floor((CASE WHEN n_words > 0
                        THEN n_word_chars * 1.0 / n_words ELSE 0.0 END) * 1e6) / 1e6
                   AS mean_word_len,
                 floor((CASE WHEN n_words > 0
                        THEN (n_hash + n_ellipsis) * 1.0 / n_words ELSE 0.0 END) * 1e6) / 1e6
                   AS symbol_word_ratio,
                 floor((CASE WHEN n_lines > 0
                        THEN n_bullet_lines * 1.0 / n_lines ELSE 0.0 END) * 1e6) / 1e6
                   AS bullet_line_frac,
                 floor((CASE WHEN n_lines > 0
                        THEN n_ellipsis_lines * 1.0 / n_lines ELSE 0.0 END) * 1e6) / 1e6
                   AS ellipsis_line_frac,
                 floor((CASE WHEN n_words > 0
                        THEN n_alpha * 1.0 / n_words ELSE 0.0 END) * 1e6) / 1e6
                   AS alpha_word_frac
          FROM gf),
        gp AS MATERIALIZED (
          SELECT doc_id FROM gq
          WHERE n_words >= 20 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_word_ratio <= 0.1 AND bullet_line_frac <= 0.9
            AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
            AND stop_hits >= 0),
        s1 AS MATERIALIZED (
          SELECT doc_id FROM (
            SELECT c.doc_id,
                   row_number() OVER (
                     PARTITION BY NORMEXPR ORDER BY c.doc_id) AS rn
            FROM corpus c JOIN gp USING (doc_id))
          WHERE rn = 1),
        sh AS MATERIALIZED (
          SELECT doc_id, SHINGLEEXPR AS shingles
          FROM (SELECT c.doc_id, string_split(NORMEXPR, ' ') AS w
                FROM corpus c JOIN s1 USING (doc_id))),
        ex AS (SELECT doc_id, unnest(shingles) AS sg, len(shingles) AS ns
               FROM sh),
        jp AS MATERIALIZED (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
          GROUP BY 1, 2, a.doc_id, b.doc_id
          HAVING count(*) * 1.0
                 / (any_value(a.ns) + any_value(b.ns) - count(*)) >= 0.5),
        edges AS (
          SELECT id_a AS a, id_b AS b FROM jp
          UNION SELECT id_b, id_a FROM jp),
        nodes AS (SELECT DISTINCT a AS id FROM edges),
        reach AS (
          SELECT id, min(m) AS cluster_id FROM (
            WITH RECURSIVE r(id, m) AS (
              SELECT id, id FROM nodes
              UNION
              SELECT e.a, r.m FROM edges e JOIN r ON e.b = r.id)
            SELECT id, m FROM r)
          GROUP BY id),
        s2 AS MATERIALIZED (
          SELECT doc_id FROM s1
          WHERE doc_id NOT IN
            (SELECT id FROM reach WHERE id != cluster_id)),
        csh AS (
          SELECT doc_id, hb,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 7, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                        w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
                        w[i+6] || ' ' || w[i+7]))) AS s8
          FROM (SELECT doc_id, hb, string_split(NORMEXPR, ' ') AS w
                FROM dd
                WHERE hb < '14'
                   OR doc_id IN (SELECT doc_id FROM s2))),
        contaminated AS MATERIALIZED (
          SELECT DISTINCT c.doc_id
          FROM (SELECT doc_id, s8 FROM csh WHERE hb >= '14') c
          JOIN (SELECT DISTINCT s8 FROM csh WHERE hb < '14') b
            USING (s8)),
        s3 AS MATERIALIZED (
          SELECT doc_id FROM s2
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '\s+')) AS tok,
                 unnest(range(len(string_split_regex(lower(text), '\s+')))) AS pos
          FROM documents),
        t2 AS (SELECT * FROM toks WHERE tok <> ''),
        big AS (
          SELECT doc_id, tok AS w1,
                 lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM t2),
        b2 AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
        bc AS MATERIALIZED (
          SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY w1, w2),
        hist AS (
          SELECT w1, sum(c12) AS c1, count(*) AS n1_fwd
          FROM bc GROUP BY w1),
        cont2 AS (SELECT w2, count(*) AS n1_bwd FROM bc GROUP BY w2),
        nb AS (SELECT count(*) AS b FROM bc),
        kn AS MATERIALIZED (
          SELECT doc_id, round(avg(ln(p)), 4) AS kn_score FROM (
            SELECT b2.doc_id,
                   greatest(
                     greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0) / c1
                     + (0.75 * n1_fwd / c1)
                       * (coalesce(n1_bwd, 0) / CAST(b AS DOUBLE)),
                     1e-9) AS p
            FROM b2
            JOIN bc USING (w1, w2)
            JOIN hist USING (w1)
            JOIN cont2 USING (w2)
            CROSS JOIN nb)
          GROUP BY doc_id),
        sel AS (SELECT kn_score FROM s3 JOIN kn USING (doc_id))
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_total,
          (SELECT CAST(count(*) AS BIGINT) FROM gp) AS n_gopher_pass,
          (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_after_exact,
          (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_after_neardup,
          (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_after_decontam,
          (SELECT min(kn_score) FROM sel) AS kn_min,
          (SELECT max(kn_score) FROM sel) AS kn_max,
          (SELECT CAST(coalesce(sum(CASE WHEN kn_score >= -3.4
                                    THEN 1 ELSE 0 END), 0) AS BIGINT)
           FROM sel) AS n_kn_high
    """.replace("NORMEXPR", "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))").replace(
        "SHINGLEEXPR",
        "list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 0)),"
        " i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))",
    )

# Kneser-Ney: the same rational count ratios; the single ln at
# the end follows the ta_bigram_lm round-4 convention
@query(oracle=_curation_pipeline_oracle_sql())
def q_curation_pipeline_report(spark, sf):
    """FLAGSHIP COMPOSITION — the full pre-training curation funnel in
    one plan: held-out split -> nine-rule Gopher gate -> exact dedup ->
    word-3-gram Jaccard near-dup drop (connected components) ->
    8-gram benchmark decontamination -> Kneser-Ney quality scoring of
    the survivors. One row of per-stage survivor counts + KN stats —
    proves the r6 operators COMPOSE into the pipeline a real corpus
    team runs, and the oracle replays every stage in one SQL chain."""
    from pdf_to_vectordb_etl_spark.operators import curation
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    from pyspark import StorageLevel

    # repartition + eager checkpoint BARRIER before the gate: the
    # gopher_pass filter predicate would otherwise push down through a
    # bare repartition onto the single-file scan and run the whole
    # 9-rule regex projection on ONE task (measured 1.7 s -> 0.5 s at
    # sf0.1; no-op cost at real multi-file scale)
    docs = (
        _t(spark, sf, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    hb = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    corpus = docs.filter(hb >= "14")
    bench = docs.filter(hb < "14")
    # thresholds tuned to the synthetic corpus (no English stopwords
    # in its vocabulary; ~54-word docs) — exactly the per-corpus knob a
    # real pipeline turns; the operator default stays standard Gopher
    g = ta.gopher_quality_gate(
        corpus, thresholds={"min_words": 20, "min_stop_hits": 0}
    ).filter("gopher_pass").select(*docs.columns)
    # every stage below is read by its own count AND every later
    # stage — unpersisted, the six report branches re-run the whole
    # prefix (the near-dup CC three times over; measured 9.1 s -> ~3 s
    # at sf0.1). The same persist-the-stage-boundaries trade a 100-TB
    # run makes (plans/curate.py docstring).
    g = g.persist(StorageLevel.MEMORY_AND_DISK)
    d1 = dedup.drop_exact_duplicates(g).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = dedup.ngram_jaccard_pairs(d1, threshold=0.5)
    d2 = dedup.drop_near_duplicates(d1, pairs).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cont = curation.contamination_check(d2, bench, n=8)
    d3 = d2.join(
        cont.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sel = d3.join(ta.kneser_ney_scores(docs), "doc_id")

    def n(frame, name):
        return frame.agg(F.count(F.lit(1)).cast("long").alias(name))

    out = (
        n(corpus, "n_total")
        .crossJoin(n(g, "n_gopher_pass"))
        .crossJoin(n(d1, "n_after_exact"))
        .crossJoin(n(d2, "n_after_neardup"))
        .crossJoin(n(d3, "n_after_decontam"))
        .crossJoin(
            sel.agg(
                F.min("kn_score").alias("kn_min"),
                F.max("kn_score").alias("kn_max"),
                F.coalesce(
                    F.sum((F.col("kn_score") >= -3.4).cast("int")), F.lit(0)
                ).cast("long").alias("n_kn_high"),
            )
        )
    )
    # materialize the 1-row report and RELEASE the four persisted
    # tiers: leaked caches share the local-mode heap with broadcast
    # builds, and repeated runs in one session starved a later
    # broadcast at the x100 replica (caught by tools/scale10.py)
    rows = out.collect()
    for frame in (g, d1, d2, d3):
        frame.unpersist()
    return spark.createDataFrame(rows, out.schema)


# cuped_readout: identical moment algebra, HUGEINT products
@query(oracle="""
            WITH ev AS MATERIALIZED (
              SELECT user_id, epoch_ns(ts) AS t, value,
                     CASE WHEN substr(md5(CAST(user_id AS VARCHAR)),
                                       1, 1) < '8'
                          THEN 'A' ELSE 'B' END AS arm
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND value IS NOT NULL),
            bounds AS (
              SELECT (min(t) + max(t)) // 2 AS sp FROM ev),
            users AS MATERIALIZED (
              SELECT user_id, arm,
                     CAST(sum(CASE WHEN t < sp
                              THEN CAST(floor(value) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS x,
                     CAST(sum(CASE WHEN t >= sp
                              THEN CAST(floor(value) AS BIGINT)
                              ELSE 0 END) AS BIGINT) AS y
              FROM ev, bounds GROUP BY user_id, arm),
            pool AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(coalesce(sum(x), 0) AS BIGINT) AS sx,
                     CAST(coalesce(sum(y), 0) AS BIGINT) AS sy,
                     CAST(coalesce(sum(x * x), 0) AS BIGINT) AS sxx,
                     CAST(coalesce(sum(y * y), 0) AS BIGINT) AS syy,
                     CAST(coalesce(sum(x * y), 0) AS BIGINT) AS sxy
              FROM users),
            arms AS (
              SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                     CAST(sum(x) AS BIGINT) AS ax,
                     CAST(sum(y) AS BIGINT) AS ay
              FROM users GROUP BY arm)
            SELECT arm, n_users,
                   floor(CAST(ay AS DOUBLE) / n_users * 1e6) / 1e6
                     AS y_mean_q6,
                   CASE WHEN n >= 2 AND CAST(CAST(n AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0
                   THEN floor((CAST(ay AS DOUBLE) / n_users
                     - CAST(CAST(n AS HUGEINT) * sxy
                            - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * sxx
                              - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                       * (CAST(ax AS DOUBLE) / n_users
                          - CAST(sx AS DOUBLE) / n)) * 1e6) / 1e6
                   END AS y_adj_q6,
                   CASE WHEN n >= 2 AND CAST(CAST(n AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0
                   THEN floor(CAST(CAST(n AS HUGEINT) * sxy
                              - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                        / CAST(CAST(n AS HUGEINT) * sxx
                               - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                        * 1e6) / 1e6
                   END AS theta_q6,
                   CASE WHEN n >= 2 AND CAST(CAST(n AS HUGEINT) * sxx
                        - CAST(sx AS HUGEINT) * sx AS DOUBLE) > 0
                        AND CAST(CAST(n AS HUGEINT) * syy
                            - CAST(sy AS HUGEINT) * sy AS DOUBLE) > 0
                   THEN floor(CAST(CAST(n AS HUGEINT) * sxy
                              - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                        * CAST(CAST(n AS HUGEINT) * sxy
                               - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                        / (CAST(CAST(n AS HUGEINT) * sxx
                                - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                           * CAST(CAST(n AS HUGEINT) * syy
                                  - CAST(sy AS HUGEINT) * sy
                                  AS DOUBLE)) * 1e6) / 1e6
                   END AS rho2_q6
            FROM arms, pool ORDER BY arm
        """)
def q_cuped_readout(spark, sf):
    """CUPED variance-reduced A/B readout: md5-bucket arms, pre/post
    split at the (min+max)//2 timestamp midpoint (one bounded driver
    action — the blocklist .first() precedent), θ = cov/var from
    exact int64 moment sums with DECIMAL(38,0) cross products, per-arm
    adjusted means 1e-6-floored."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    ev = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    b = ev.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).first()
    split = (int(b["mn"]) + int(b["mx"])) // 2
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
        F.lit("A"),
    ).otherwise(F.lit("B"))
    return evaluation.cuped_adjusted(
        ev, "user_id", "ts", "value", split_ts=split, arm_expr=arm
    )


# jackknife_ratio: 32-shard LOO replay, 1e-9 replicate grid
@query(oracle="""
            WITH per AS MATERIALIZED (
              SELECT CAST(user_id % 32 AS INT) AS bk,
                     CAST(coalesce(sum(CASE WHEN event_type
                                             = 'purchase'
                              THEN CAST(floor(value) AS BIGINT)
                              ELSE 0 END), 0) AS BIGINT) AS nb,
                     CAST(coalesce(sum(CASE WHEN event_type = 'view'
                              THEN CAST(floor(value) AS BIGINT)
                              ELSE 0 END), 0) AS BIGINT) AS db
              FROM events
              WHERE user_id IS NOT NULL AND value IS NOT NULL
              GROUP BY 1),
            tot AS (
              SELECT CAST(count(*) AS BIGINT) AS b,
                     CAST(coalesce(sum(nb), 0) AS BIGINT) AS num,
                     CAST(coalesce(sum(db), 0) AS BIGINT) AS den
              FROM per),
            moms AS (
              SELECT
                CAST(coalesce(sum(CASE WHEN den - db > 0
                  THEN CAST(floor(
                    CAST(num - nb AS DOUBLE)
                    / CAST(den - db AS DOUBLE)
                    * 1e9) AS BIGINT) END), 0) AS BIGINT) AS s1,
                CAST(coalesce(sum(CASE WHEN den - db > 0
                  THEN CAST(floor(
                    (CAST(num - nb AS DOUBLE)
                     / CAST(den - db AS DOUBLE))
                    * (CAST(num - nb AS DOUBLE)
                       / CAST(den - db AS DOUBLE))
                    * 1e9) AS BIGINT) END), 0) AS BIGINT) AS s2,
                CAST(coalesce(sum(CASE WHEN den - db <= 0
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
                  AS bad
              FROM per, tot)
            SELECT b, num, den,
                   CASE WHEN den > 0
                   THEN floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                              * 1e6) / 1e6 END AS r_q6,
                   CASE WHEN b >= 2 AND bad = 0 AND den > 0
                   THEN floor(sqrt(greatest(
                     (CAST(b AS DOUBLE) - 1) / CAST(b AS DOUBLE)
                     * (s2 / 1e9
                        - CAST(b AS DOUBLE)
                          * (s1 / 1e9 / CAST(b AS DOUBLE))
                          * (s1 / 1e9 / CAST(b AS DOUBLE))),
                     0.0)) * 1e6) / 1e6
                   END AS se_q6
            FROM tot, moms
        """)
def q_jackknife_ratio(spark, sf):
    """Grouped delete-1 jackknife SE for revenue-per-view (a ratio of
    sums over cluster-correlated events): 32 deterministic user
    shards, one corpus agg to exact (num, den) partials, ≤32-row
    finale with 1e-9-floored leave-one-out replicates."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    ev = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    return evaluation.jackknife_ratio_se(
        ev,
        F.pmod(F.col("user_id"), F.lit(32)),
        F.when(
            F.col("event_type") == "purchase", F.floor("value")
        ).otherwise(0),
        F.when(F.col("event_type") == "view", F.floor("value")).otherwise(
            0
        ),
        n_buckets=32,
    )


# kendall_tau: same contingency concordance replay
@query(oracle="""
            WITH f AS (
              SELECT least(9, greatest(0,
                       CAST(floor(value / 50.0) AS BIGINT))) AS x,
                     (epoch_ns(ts) // 3600000000000) % 24 AS y
              FROM events
              WHERE value IS NOT NULL AND ts IS NOT NULL),
            cells AS MATERIALIZED (
              SELECT x, y, CAST(count(*) AS BIGINT) AS c
              FROM f GROUP BY x, y),
            cd AS (
              SELECT
                CAST(coalesce(sum(CASE WHEN b.y > a.y
                     THEN a.c * b.c ELSE 0 END), 0) AS BIGINT) AS conc,
                CAST(coalesce(sum(CASE WHEN b.y < a.y
                     THEN a.c * b.c ELSE 0 END), 0) AS BIGINT) AS disc
              FROM cells a JOIN cells b ON b.x > a.x),
            t1 AS (
              SELECT CAST(coalesce(sum(tx * (tx - 1)), 0) AS BIGINT)
                       AS tie_x_pairs2
              FROM (SELECT CAST(sum(c) AS BIGINT) AS tx
                    FROM cells GROUP BY x)),
            t2 AS (
              SELECT CAST(coalesce(sum(ty * (ty - 1)), 0) AS BIGINT)
                       AS tie_y_pairs2
              FROM (SELECT CAST(sum(c) AS BIGINT) AS ty
                    FROM cells GROUP BY y)),
            tot AS (
              SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS n_cells
              FROM cells)
            SELECT n, n_cells, conc, disc, tie_x_pairs2, tie_y_pairs2,
                   CASE WHEN CAST(n * (n - 1) - tie_x_pairs2
                             AS DOUBLE) > 0
                         AND CAST(n * (n - 1) - tie_y_pairs2
                             AS DOUBLE) > 0
                   THEN floor(
                     2.0 * CAST(conc - disc AS DOUBLE)
                     / (sqrt(CAST(n * (n - 1) - tie_x_pairs2
                                  AS DOUBLE))
                        * sqrt(CAST(n * (n - 1) - tie_y_pairs2
                                    AS DOUBLE))) * 1e6) / 1e6
                   END AS tau_b_q6
            FROM tot, cd, t1, t2
        """)
def q_kendall_tau(spark, sf):
    """Kendall's tau-b between the value decile bin and the
    hour-of-day bucket (tie-corrected ordinal concordance): one
    corpus agg into ≤240 cells, concordant/discordant counts via one
    bounded cell self-join (corpus-independent pair table), exact
    integers end-to-end with the doubled-pair-count trick keeping the
    denominator factors in int64 before two separate sqrts."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    ev = (
        _t(spark, sf, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.least(
                F.lit(9),
                F.greatest(F.lit(0), F.floor(F.col("value") / 50.0)),
            ).cast("int").alias("vbin"),
            F.expr("pmod(ts div 3600000000000, 24)")
            .cast("int")
            .alias("hour"),
        )
    )
    return evaluation.kendall_tau_b(ev, "vbin", "hour")


# T26: 32-shard partial sums are associative; shared jackknife_finale
@query(oracle_of="jackknife_ratio")
def q_t26_stream_jackknife(spark, sf):
    """T26 — live ratio-metric error bars: the 32-shard (num, den)
    partial sums as an associative streaming agg (state ≤ 32 rows),
    snapshot into the IDENTICAL jackknife_finale as the batch path;
    the batch SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import evaluation
    from pdf_to_vectordb_etl_spark.schemas import normalize_event_times
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = normalize_event_times(table_stream(spark, sf, "events")).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    live = evaluation.jackknife_bucket_sums(
        stream,
        F.pmod(F.col("user_id"), F.lit(32)),
        F.when(
            F.col("event_type") == "purchase", F.floor("value")
        ).otherwise(0),
        F.when(F.col("event_type") == "view", F.floor("value")).otherwise(
            0
        ),
        n_buckets=32,
    )
    return evaluation.jackknife_finale(drain_to_memory(live, "t26_jackknife"))


# T27: contingency cells are associative; shared kendall_finale
@query(oracle_of="kendall_tau")
def q_t27_stream_kendall(spark, sf):
    """T27 — live ordinal-association monitor: the (vbin, hour)
    contingency cells as an associative streaming agg (state ≤ 240
    rows), snapshot into the IDENTICAL kendall_finale as the batch
    path; the batch SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import evaluation
    from pdf_to_vectordb_etl_spark.schemas import normalize_event_times
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = (
        normalize_event_times(table_stream(spark, sf, "events"))
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.least(
                F.lit(9),
                F.greatest(F.lit(0), F.floor(F.col("value") / 50.0)),
            ).cast("int").alias("vbin"),
            F.expr("pmod(ts div 3600000000000, 24)")
            .cast("int")
            .alias("hour"),
        )
    )
    live = evaluation.kendall_cells(stream, "vbin", "hour")
    return evaluation.kendall_finale(drain_to_memory(live, "t27_kendall"))


# max_cover_select: the greedy replay, 5 unrolled rounds over
# raw shingle values (engine shuffles xxhash64 keys)
@query(oracle="""
            WITH w0 AS (
              SELECT doc_id AS id,
                     string_split({_NORM}, ' ') AS w
              FROM documents),
            sh AS MATERIALIZED (
              SELECT DISTINCT id, s
              FROM (SELECT id, unnest({_SHINGLES}) AS s FROM w0)),
            r1 AS MATERIALIZED (
              SELECT id, CAST(count(*) AS BIGINT) AS g
              FROM sh 
              GROUP BY id ORDER BY g DESC, id LIMIT 1),
            c1 AS MATERIALIZED (
              SELECT DISTINCT s FROM sh JOIN r1 USING (id)),
            r2 AS MATERIALIZED (
              SELECT id, CAST(count(*) AS BIGINT) AS g
              FROM sh ANTI JOIN c1 USING (s)
              GROUP BY id ORDER BY g DESC, id LIMIT 1),
            c2 AS MATERIALIZED (
              SELECT s FROM c1
              UNION
              SELECT s FROM sh JOIN r2 USING (id)),
            r3 AS MATERIALIZED (
              SELECT id, CAST(count(*) AS BIGINT) AS g
              FROM sh ANTI JOIN c2 USING (s)
              GROUP BY id ORDER BY g DESC, id LIMIT 1),
            c3 AS MATERIALIZED (
              SELECT s FROM c2
              UNION
              SELECT s FROM sh JOIN r3 USING (id)),
            r4 AS MATERIALIZED (
              SELECT id, CAST(count(*) AS BIGINT) AS g
              FROM sh ANTI JOIN c3 USING (s)
              GROUP BY id ORDER BY g DESC, id LIMIT 1),
            c4 AS MATERIALIZED (
              SELECT s FROM c3
              UNION
              SELECT s FROM sh JOIN r4 USING (id)),
            r5 AS MATERIALIZED (
              SELECT id, CAST(count(*) AS BIGINT) AS g
              FROM sh ANTI JOIN c4 USING (s)
              GROUP BY id ORDER BY g DESC, id LIMIT 1),
            c5 AS MATERIALIZED (
              SELECT s FROM c4
              UNION
              SELECT s FROM sh JOIN r5 USING (id)),
            picks AS (
            SELECT 1 AS round,
                   CAST(id AS BIGINT) AS doc_id, g AS gain,
                   CAST((SELECT g FROM r1) AS BIGINT) AS covered_total
            FROM r1
            UNION ALL
            SELECT 2 AS round,
                   CAST(id AS BIGINT) AS doc_id, g AS gain,
                   CAST((SELECT g FROM r1) + (SELECT g FROM r2) AS BIGINT) AS covered_total
            FROM r2
            UNION ALL
            SELECT 3 AS round,
                   CAST(id AS BIGINT) AS doc_id, g AS gain,
                   CAST((SELECT g FROM r1) + (SELECT g FROM r2) + (SELECT g FROM r3) AS BIGINT) AS covered_total
            FROM r3
            UNION ALL
            SELECT 4 AS round,
                   CAST(id AS BIGINT) AS doc_id, g AS gain,
                   CAST((SELECT g FROM r1) + (SELECT g FROM r2) + (SELECT g FROM r3) + (SELECT g FROM r4) AS BIGINT) AS covered_total
            FROM r4
            UNION ALL
            SELECT 5 AS round,
                   CAST(id AS BIGINT) AS doc_id, g AS gain,
                   CAST((SELECT g FROM r1) + (SELECT g FROM r2) + (SELECT g FROM r3) + (SELECT g FROM r4) + (SELECT g FROM r5) AS BIGINT) AS covered_total
            FROM r5)
            SELECT round, doc_id, gain, covered_total
            FROM picks ORDER BY round
        """.replace("{_NORM}", _NORM).replace("{_SHINGLES}", _SHINGLES))
def q_max_cover_select(spark, sf):
    """Greedy max-coverage selection of 5 documents by distinct
    3-shingle coverage (submodular data selection, (1−1/e) greedy):
    one materialized doc→shingle-hash explode reused across rounds,
    per-round left-anti join + hash agg + 1-row argmax collect (the
    bpe_train bounded-driver-artifact contract). Integer counts only —
    zero rounding dice; the oracle replays the greedy as 5 unrolled
    MATERIALIZED CTE rounds grouping raw shingle VALUES (independent
    keying)."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = (
        _t(spark, sf, "documents")
        .select("doc_id", "text")
        # the shingle explode is CPU-bound and checkpointed once:
        # spread the small single-file scan (no-op at multi-file scale)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return curation.max_cover_select(docs, 5)


# T25: per-(user, arm) totals are associative; shared cuped_finale
@query(oracle_of="cuped_readout")
def q_t25_stream_cuped(spark, sf):
    """T25 — live CUPED experiment readout: per-(user, arm) pre/post
    totals as an associative streaming agg (user-cardinality state,
    the t4 shape; per-row floors BEFORE the sums keep it mergeable),
    snapshot into the IDENTICAL cuped_finale as the batch path. The
    split timestamp comes from one bounded batch pre-scan (the T22
    static-side precedent); the batch SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import evaluation
    from pdf_to_vectordb_etl_spark.schemas import normalize_event_times
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    batch = _t(spark, sf, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    b = batch.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).first()
    split = (int(b["mn"]) + int(b["mx"])) // 2
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) < "8",
        F.lit("A"),
    ).otherwise(F.lit("B"))
    stream = normalize_event_times(table_stream(spark, sf, "events"))
    live = evaluation.cuped_user_totals(
        stream, "user_id", "ts", "value", split_ts=split, arm_expr=arm
    )
    return evaluation.cuped_finale(drain_to_memory(live, "t25_cuped"))


# attribution_touch: same collapse + value-based RANGE window
# with IGNORE NULLS, struct min/max tie-break replayed verbatim
@query(oracle="""
            WITH base AS (
              SELECT event_id, user_id, epoch_ns(ts) AS t, event_type
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            tou AS (
              SELECT user_id, t,
                     min({'t': t, 'i': event_id, 'y': event_type})
                       AS ft,
                     max({'t': t, 'i': event_id, 'y': event_type})
                       AS lt
              FROM base WHERE event_type IN ('view', 'click')
              GROUP BY user_id, t),
            un AS (
              SELECT user_id, t, ft, lt, NULL AS conv FROM tou
              UNION ALL
              SELECT user_id, t, NULL, NULL, event_id
              FROM base WHERE event_type = 'purchase'),
            lined AS (
              SELECT user_id, t, conv,
                     first_value(ft IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t
                       RANGE BETWEEN 604800000000000 PRECEDING
                       AND 1 PRECEDING) AS f,
                     last_value(lt IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY t
                       RANGE BETWEEN 604800000000000 PRECEDING
                       AND 1 PRECEDING) AS l
              FROM un)
            SELECT user_id,
                   CAST(conv AS BIGINT) AS conversion_id,
                   t AS conversion_ts,
                   f.i AS first_touch_id,
                   f.y AS first_touch_type,
                   t - f.t AS first_gap,
                   l.i AS last_touch_id,
                   l.y AS last_touch_type,
                   t - l.t AS last_gap
            FROM lined WHERE conv IS NOT NULL
            ORDER BY conversion_id
        """)
def q_attribution_touch(spark, sf):
    """First/last-touch conversion attribution with a 7-day lookback:
    touches collapsed to one row per (user, ts) by deterministic
    struct min/max so the per-user RANGE window (value-based frames —
    tie-proof by construction) sees unique order keys; one union + one
    linear window pass, no self-join, per-user partitions only."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    ev = _t(spark, sf, "events")
    return aggregates.touch_attribution(
        ev, lookback=7 * 86_400 * 1_000_000_000
    ).orderBy("conversion_id")


def _benford_oracle_sql() -> str:
    """Replay of profiling.benford_first_digit on orders.o_totalprice:
    identical integer-string digit extraction, the SAME float literals
    for log10(1+1/d) (repr-embedded so both engines parse the same
    doubles), per-digit 1e-9 floors before exact sums, closed-form
    absent-digit folds."""
    import math

    probs = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    full_p9 = int(sum(math.floor(probs[d] * 1e9) for d in range(1, 10)))
    p_case = "CASE d " + " ".join(
        f"WHEN {d} THEN {probs[d]!r}" for d in range(1, 10)
    ) + " END"
    c_cols = ",\n                ".join(
        f"CAST(coalesce(sum(CASE WHEN d = {d} THEN c ELSE 0 END), 0)"
        f" AS BIGINT) AS c{d}"
        for d in range(1, 10)
    )
    share_cols = ",\n                   ".join(
        f"CASE WHEN n > 0 THEN floor(c{d} * 1000000 / n) / 1e6 END"
        f" AS d{d}_q6"
        for d in range(1, 10)
    )
    return f"""
            WITH ints AS (
              SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS i
              FROM orders WHERE o_totalprice IS NOT NULL),
            counts AS MATERIALIZED (
              SELECT CASE WHEN i >= 1 THEN CAST(substr(
                       CAST(i AS VARCHAR), 1, 1) AS INT)
                     ELSE 0 END AS d,
                     CAST(count(*) AS BIGINT) AS c
              FROM ints GROUP BY 1),
            tot AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n
                    FROM counts WHERE d >= 1),
            skipped AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT)
                          AS n_skipped
                        FROM counts WHERE d = 0),
            present AS (
              SELECT
                CAST(coalesce(sum(CAST(floor(
                  (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) * ({p_case}))
                  * (CAST(c AS DOUBLE) - CAST(n AS DOUBLE)
                     * ({p_case}))
                  / (CAST(n AS DOUBLE) * ({p_case}))
                  * 1e9) AS BIGINT)), 0) AS BIGINT) AS chi9,
                CAST(coalesce(sum(CAST(floor(
                  abs(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                      - ({p_case}))
                  * 1e9) AS BIGINT)), 0) AS BIGINT) AS mad9,
                CAST(coalesce(sum(CAST(floor(({p_case}) * 1e9)
                  AS BIGINT)), 0) AS BIGINT) AS pmass9,
                {c_cols}
              FROM counts, tot WHERE d >= 1)
            SELECT n, n_skipped,
                   {share_cols},
                   CASE WHEN n > 0
                   THEN floor((chi9 / 1e9
                               + CAST(n AS DOUBLE)
                                 * (({full_p9} - pmass9) / 1e9))
                              * 1e3) / 1e3
                   END AS chi2_q,
                   CASE WHEN n > 0
                   THEN floor((mad9 / 1e9
                               + ({full_p9} - pmass9) / 1e9) / 9.0
                              * 1e6) / 1e6
                   END AS mad_q6
            FROM tot, present, skipped
        """

@query(oracle=_benford_oracle_sql())
def q_benford_law(spark, sf):
    """Benford first-digit screen on order totals: digit read from the
    floor-quantized INTEGER's decimal string (no log10 in the scan, no
    float dice, engine-portable), one hash agg into ≤10 rows, chi² +
    MAD finales on exact counts with log10(1+1/d) as shared literal
    constants and closed-form absent-digit folds."""
    from pdf_to_vectordb_etl_spark.operators import profiling

    o = _t(spark, sf, "orders")
    return profiling.benford_first_digit(o, "o_totalprice", scale=100)


# T24: digit counts are associative; the stream snapshot feeds the
# SAME benford_finale as batch
@query(oracle_of="benford_law")
def q_t24_stream_benford(spark, sf):
    """T24 — live Benford drift screen: the ≤10-row digit-count table
    maintained as an associative streaming agg, snapshot into the
    IDENTICAL benford_finale as the batch path (the T-twin shared-
    finale contract), so the batch SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import profiling
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = table_stream(spark, sf, "orders")
    live = profiling.benford_digit_counts(stream, "o_totalprice", 100)
    return profiling.benford_finale(drain_to_memory(live, "t24_benford"))


# T23: per-user totals are associative, so the stream snapshot's
# frontier must equal the batch skyline exactly
@query(oracle_of="skyline_pareto")
def q_t23_stream_skyline(spark, sf):
    """T23 — live Pareto frontier: per-user engagement totals
    maintained as an associative streaming agg (state bounded by user
    cardinality — the t4_stateful_totals shape; count + exact
    1e-6-grid value sum are both merge-able), then the snapshot feeds
    the IDENTICAL skyline_2d finale as the batch path, so the batch
    skyline SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import spatial
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = table_stream(spark, sf, "events")
    live = (
        stream.filter(
            F.col("value").isNotNull() & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1e6))
            .cast("long")
            .alias("value_units"),
        )
    )
    return (
        spatial.skyline_2d(
            drain_to_memory(live, "t23_skyline"),
            -F.col("n_events"),
            -F.col("value_units"),
        )
        .select("user_id", "n_events", "value_units")
        .orderBy("user_id")
    )


# bleu_rouge: full replay grouping raw gram VALUES (the engine
# groups md5 keys); exact-integer counters, identical libm
# inputs, 1e-6 floor finales
@query(oracle=r"""
            WITH d AS (
              SELECT doc_id AS id,
                     trim(regexp_replace(
                       lower(regexp_replace(text, '[^\x20-\x7e]', '',
                                            'g')),
                       '\s+', ' ', 'g')) AS t
              FROM documents),
            words AS MATERIALIZED (
              SELECT id,
                     CASE WHEN t = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split(t, ' ') END AS rw
              FROM d),
            pairs AS MATERIALIZED (
              SELECT id, rw,
                     list_transform(
                       list_filter(generate_series(1, len(rw)),
                                   i -> i % 7 != 0),
                       i -> rw[i]) AS cw
              FROM words),
            ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
            gramrows AS (
              SELECT p.id, ns.n, g.g, 1 AS c, 0 AS r
              FROM pairs p, ns,
                   unnest(list_transform(
                     generate_series(1, len(p.cw) - ns.n + 1),
                     i -> array_to_string(p.cw[i:i + ns.n - 1], ' ')))
                   AS g(g)
              UNION ALL
              SELECT p.id, ns.n, g.g, 0, 1
              FROM pairs p, ns,
                   unnest(list_transform(
                     generate_series(1, len(p.rw) - ns.n + 1),
                     i -> array_to_string(p.rw[i:i + ns.n - 1], ' ')))
                   AS g(g)),
            pg AS (
              SELECT id, n, g,
                     CAST(sum(c) AS BIGINT) AS cc,
                     CAST(sum(r) AS BIGINT) AS rc
              FROM gramrows GROUP BY id, n, g),
            pn AS (
              SELECT n,
                     CAST(sum(least(cc, rc)) AS BIGINT) AS clip,
                     CAST(sum(cc) AS BIGINT) AS tc,
                     CAST(sum(rc) AS BIGINT) AS tr
              FROM pg GROUP BY n),
            flat AS (
              SELECT
                CAST(coalesce(sum(CASE WHEN n = 1 THEN clip END), 0)
                     AS BIGINT) AS clip1,
                CAST(coalesce(sum(CASE WHEN n = 2 THEN clip END), 0)
                     AS BIGINT) AS clip2,
                CAST(coalesce(sum(CASE WHEN n = 3 THEN clip END), 0)
                     AS BIGINT) AS clip3,
                CAST(coalesce(sum(CASE WHEN n = 4 THEN clip END), 0)
                     AS BIGINT) AS clip4,
                CAST(coalesce(sum(CASE WHEN n = 1 THEN tc END), 0)
                     AS BIGINT) AS tot1,
                CAST(coalesce(sum(CASE WHEN n = 2 THEN tc END), 0)
                     AS BIGINT) AS tot2,
                CAST(coalesce(sum(CASE WHEN n = 3 THEN tc END), 0)
                     AS BIGINT) AS tot3,
                CAST(coalesce(sum(CASE WHEN n = 4 THEN tc END), 0)
                     AS BIGINT) AS tot4,
                CAST(coalesce(sum(CASE WHEN n = 1 THEN tr END), 0)
                     AS BIGINT) AS rtot1,
                CAST(coalesce(sum(CASE WHEN n = 2 THEN tr END), 0)
                     AS BIGINT) AS rtot2
              FROM pn),
            np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs
                   FROM pairs),
            fin AS (SELECT * FROM np, flat)
            SELECT n_pairs,
                   tot1 AS c_len,
                   rtot1 AS r_len,
                   clip1, clip2, clip3, clip4,
                   tot1, tot2, tot3, tot4,
                   rtot1, rtot2,
                   CASE WHEN tot1 > 0
                        THEN floor(clip1 * 1000000 / tot1) / 1e6
                        END AS p1_q6,
                   CASE WHEN tot2 > 0
                        THEN floor(clip2 * 1000000 / tot2) / 1e6
                        END AS p2_q6,
                   CASE WHEN tot3 > 0
                        THEN floor(clip3 * 1000000 / tot3) / 1e6
                        END AS p3_q6,
                   CASE WHEN tot4 > 0
                        THEN floor(clip4 * 1000000 / tot4) / 1e6
                        END AS p4_q6,
                   CASE WHEN rtot1 > 0
                        THEN floor(clip1 * 1000000 / rtot1) / 1e6
                        END AS rouge1_q6,
                   CASE WHEN rtot2 > 0
                        THEN floor(clip2 * 1000000 / rtot2) / 1e6
                        END AS rouge2_q6,
                   CASE WHEN tot1 > 0 THEN
                     floor((CASE WHEN tot1 >= rtot1 THEN 1.0
                            ELSE exp(1.0 - CAST(rtot1 AS DOUBLE)
                                     / tot1) END) * 1e6) / 1e6
                     END AS bp_q6,
                   CASE WHEN tot1 <= 0 THEN NULL
                        WHEN clip1 > 0 AND clip2 > 0 AND clip3 > 0
                             AND clip4 > 0
                        THEN floor(
                          (CASE WHEN tot1 >= rtot1 THEN 1.0
                           ELSE exp(1.0 - CAST(rtot1 AS DOUBLE)
                                    / tot1) END)
                          * exp((ln(CAST(clip1 AS DOUBLE) / tot1)
                                 + ln(CAST(clip2 AS DOUBLE) / tot2)
                                 + ln(CAST(clip3 AS DOUBLE) / tot3)
                                 + ln(CAST(clip4 AS DOUBLE) / tot4))
                                / 4) * 1e6) / 1e6
                        ELSE 0.0 END AS bleu_q6
            FROM fin
        """)
def q_bleu_rouge(spark, sf):
    """Corpus BLEU-4 + ROUGE-1/2 recall (Papineni 2002 / Lin 2004) over
    (candidate, reference) pairs built from the documents table: the
    reference is the ASCII-projected lowered text, the candidate drops
    every 7th word (a lossy machine 'summary' — realistic clipping and
    brevity penalty, pinned non-degenerate by the n_pairs/c_len/r_len
    columns in the same row). All n-gram counters are exact integers;
    the engine shuffles md5 gram keys while the oracle groups raw gram
    VALUES (independent keying, the blocklist_hits precedent); the two
    libm calls (exp/ln) act on identical exact-integer-derived doubles
    with 1e-6 floor finales (the graph_hyperball precedent)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.lower(
            F.regexp_replace("text", r"[^\x20-\x7e]", "")
        ).alias("t"),
    )
    ws = F.split(F.trim(F.regexp_replace(F.col("t"), r"\s+", " ")), " ")
    pairs = docs.select(
        F.col("doc_id").alias("id"),
        F.array_join(
            F.filter(ws, lambda w, i: (i + 1) % 7 != 0), " "
        ).alias("cand"),
        F.col("t").alias("ref"),
    ).repartition(spark.sparkContext.defaultParallelism)
    return evaluation.bleu_rouge_corpus(pairs, "cand", "ref", "id", max_n=4)


# cdc_chunks: boundary = first 3 md5-hex chars of the 16-char
# context < '040'; cuts = {0} ∪ boundaries ∪ {len}; chunk
# digests by value. Same md5-bucket idiom both engines.
@query(oracle=r"""
            WITH d AS MATERIALIZED (
              SELECT doc_id,
                     regexp_replace(text, '[^\x20-\x7e]', '', 'g') AS t
              FROM documents),
            b AS (
              SELECT doc_id, i
              FROM (SELECT doc_id, t,
                           unnest(range(16, length(t))) AS i
                    FROM d)
              WHERE substr(md5(substr(t, i - 15, 16)), 1, 3) < '040'),
            cuts AS (
              SELECT doc_id, 0 AS c FROM d WHERE length(t) > 0
              UNION ALL SELECT doc_id, i FROM b
              UNION ALL SELECT doc_id, length(t) FROM d
                WHERE length(t) > 0),
            seg AS (
              SELECT doc_id, c AS lo,
                     lead(c) OVER (PARTITION BY doc_id ORDER BY c) AS hi
              FROM cuts),
            chunks AS (
              SELECT s.doc_id,
                     CAST(row_number() OVER (PARTITION BY s.doc_id
                                             ORDER BY s.lo) - 1 AS INT)
                       AS chunk_idx,
                     CAST(s.lo + 1 AS INT) AS start,
                     CAST(s.hi - s.lo AS INT) AS chunk_len,
                     md5(substr(d.t, s.lo + 1, s.hi - s.lo)) AS digest
              FROM seg s JOIN d USING (doc_id)
              WHERE s.hi IS NOT NULL)
            SELECT doc_id, chunk_idx, start, chunk_len, digest
            FROM chunks ORDER BY doc_id, chunk_idx
        """)
def q_cdc_chunks(spark, sf):
    """Content-defined chunking (rsync/LBFS boundaries, Muthitacharoen
    et al. SOSP 2001): cut after any position whose 16-char rolling
    context md5-buckets under 040/4096 (~64-char average chunks).
    Boundaries depend only on local content, so an insertion early in
    a doc re-syncs within one window — the shift-robust dedup
    granularity fixed-offset chunking can't give (pinned by test).
    ASCII-projected (Spark substr counts UTF-16 units, DuckDB
    codepoints — identical on ASCII only). The oracle replays
    boundary predicate, cut pairing and chunk digests verbatim."""
    from pdf_to_vectordb_etl_spark.operators import chunking

    docs = (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            F.regexp_replace("text", r"[^\x20-\x7e]", "").alias("text"),
        )
        # the per-position md5 scan is CPU-bound: spread a small
        # single-file input across the cores (at 100 TB the many-file
        # scan parallelizes naturally and this is a no-op-sized cost)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return chunking.content_defined_chunks(
        docs, window=16, avg_size=64
    ).orderBy("doc_id", "chunk_idx")


# cdc_incremental: replay the chunking ONCE over every doc,
# split chunk rows by the md5(doc_id) bucket, then the same
# left-join accounting on digest values
@query(oracle=r"""
            WITH d AS MATERIALIZED (
              SELECT doc_id,
                     regexp_replace(text, '[^\x20-\x7e]', '', 'g') AS t,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bk
              FROM documents),
            b AS (
              SELECT doc_id, i
              FROM (SELECT doc_id, t,
                           unnest(range(16, length(t))) AS i
                    FROM d)
              WHERE substr(md5(substr(t, i - 15, 16)), 1, 3) < '040'),
            cuts AS (
              SELECT doc_id, 0 AS c FROM d WHERE length(t) > 0
              UNION ALL SELECT doc_id, i FROM b
              UNION ALL SELECT doc_id, length(t) FROM d
                WHERE length(t) > 0),
            seg AS (
              SELECT doc_id, c AS lo,
                     lead(c) OVER (PARTITION BY doc_id ORDER BY c) AS hi
              FROM cuts),
            chunks AS MATERIALIZED (
              SELECT s.doc_id, d.bk,
                     CAST(s.hi - s.lo AS BIGINT) AS chunk_len,
                     md5(substr(d.t, s.lo + 1, s.hi - s.lo)) AS digest
              FROM seg s JOIN d USING (doc_id)
              WHERE s.hi IS NOT NULL),
            corpus AS MATERIALIZED (
              SELECT DISTINCT digest FROM chunks WHERE bk < 'c'),
            rep AS (
              SELECT n.doc_id,
                     CAST(count(*) AS BIGINT) AS n_chunks,
                     CAST(sum(CASE WHEN c.digest IS NOT NULL
                                   THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_known,
                     CAST(sum(CASE WHEN c.digest IS NOT NULL
                                   THEN n.chunk_len ELSE 0 END)
                          AS BIGINT) AS known_chars,
                     CAST(sum(n.chunk_len) AS BIGINT) AS total_chars
              FROM (SELECT * FROM chunks WHERE bk >= 'c') n
              LEFT JOIN corpus c USING (digest)
              GROUP BY n.doc_id)
            SELECT doc_id, n_chunks, n_known, known_chars, total_chars,
                   CASE WHEN total_chars > 0
                        THEN floor(known_chars * 1000000 / total_chars)
                             / 1e6
                        ELSE 0.0 END AS dup_fraction
            FROM rep ORDER BY doc_id
        """)
def q_cdc_incremental(spark, sf):
    """Chunk-level daily-ingest dedup accounting: the md5(doc_id)
    hex-bucket split (< 'c' = 75% corpus, rest = today's batch — the
    incremental_exact precedent), corpus persisted as its chunk-digest
    table only, one left join of the batch's CDC chunks against it.
    dup_fraction is 1e-6 floor-quantized from exact integer char
    counts. The oracle replays the chunking once over all docs and
    splits by the same bucket."""
    from pdf_to_vectordb_etl_spark.operators import chunking

    docs = (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            F.regexp_replace("text", r"[^\x20-\x7e]", "").alias("text"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    corpus = docs.filter(b < "c")
    newb = docs.filter(b >= "c")
    cd = chunking.content_defined_chunks(
        corpus, window=16, avg_size=64
    ).select("digest")
    return chunking.incremental_cdc_report(newb, cd).orderBy("doc_id")


# blocklist_hits: the oracle replays the data-derived pattern
# table (top-10 frequent >=6-char words, count-then-word
# order) and counts PER-OFFSET occurrences by direct substr
# comparison — no hashing anywhere on the oracle side, so the
# Spark prefix-hash+verify route must be exactly collision-free
@query(oracle=r"""
            WITH d AS MATERIALIZED (
              SELECT doc_id,
                     lower(regexp_replace(text, '[^\x20-\x7e]', '', 'g'))
                       AS t
              FROM documents),
            tok AS (
              SELECT unnest(regexp_split_to_array(t, '[^a-z0-9]+')) AS w
              FROM d),
            pat AS MATERIALIZED (
              SELECT w AS pattern FROM tok WHERE length(w) >= 6
              GROUP BY w ORDER BY count(*) DESC, w LIMIT 10),
            pos AS (
              SELECT doc_id, t, unnest(range(length(t))) AS p FROM d),
            hit AS (
              SELECT doc_id, pattern,
                     CAST(count(*) AS BIGINT) AS n_hits
              FROM pos JOIN pat
                ON substr(t, p + 1, length(pattern)) = pattern
              GROUP BY doc_id, pattern)
            SELECT doc_id, pattern, n_hits FROM hit
            ORDER BY doc_id, pattern
        """)
def q_blocklist_hits(spark, sf):
    """Broadcast multi-pattern blocklist matcher (the CCNet /
    RefinedWeb bad-phrase gate; Spark analog of an Aho-Corasick scan):
    ONE corpus explode into shortest-pattern-length window hashes,
    broadcast equi-join on the pattern-prefix hash, exact value verify
    on the survivors — candidates bounded by prefix frequency, not
    corpus size. The pattern table is data-derived (top-10 most
    frequent >=6-char words, count-then-word ordered) so regenerated
    testdata can never make it degenerate; ASCII-projected BEFORE
    lowering so both engines lowercase identical input. The 10-row
    pattern table is localCheckpointed (its derivation would otherwise
    replay the corpus tokenize once for the matcher's .first() and
    again under the broadcast), and the CPU-bound per-offset hash
    scan spreads the small single-file input across the cores (the
    cdc_chunks repartition rule — no-op-sized at multi-file scale)."""
    from pdf_to_vectordb_etl_spark.operators import textsearch

    docs = (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            F.lower(
                F.regexp_replace("text", r"[^\x20-\x7e]", "")
            ).alias("text"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    toks = docs.select(
        F.explode(textsearch.tokens(F.col("text"))).alias("w")
    ).filter(F.length("w") >= 6)
    pats = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(10)
        .select(F.col("w").alias("pattern"))
        .localCheckpoint(eager=True)
    )
    return textsearch.multi_pattern_hits(docs, pats).orderBy(
        "doc_id", "pattern"
    )


# the salted join is result-identical to the plain join — the
# oracle replays it unsalted
@query(oracle="""
        WITH dim AS (
          SELECT DISTINCT event_type,
                 CAST(length(event_type) AS BIGINT) AS w
          FROM events)
        SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(e.value * 1e6) AS BIGINT) * d.w)
                    AS BIGINT) AS wsum_q
        FROM events e JOIN dim d USING (event_type)
        GROUP BY e.event_type ORDER BY e.event_type
    """)
def q_skew_salted_join(spark, sf):
    """Skew-defeating salted equi-join on the 5-hot-key event_type
    dimension: big side salted by a deterministic row hash, small side
    replicated once per salt — result-identical to the plain join
    (which IS the oracle), only the shuffle distribution changes. The
    finale sums exact 1e-6-grid integers so the proof of identity is
    hash-tight."""
    from pdf_to_vectordb_etl_spark.operators import joins

    ev = _t(spark, sf, "events").select("event_id", "event_type", "value")
    dim = (
        ev.select("event_type")
        .distinct()
        .withColumn("w", F.length("event_type").cast("long"))
    )
    j = joins.salted_join(ev, dim, ["event_type"], n_salts=8)
    q = F.floor(F.col("value") * 1e6).cast("long")
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(q * F.col("w")).alias("wsum_q"),
        )
        .orderBy("event_type")
    )


# DDSketch: γ = (1+α)/(1−α) at α=0.01; idx = ceil(log_γ x) with a
# γ^-150 zero cutoff; quantile = first bucket whose cumulative
# count reaches ceil(q(n−1))+1; midpoint estimate 2γ^i/(γ+1),
# floor-quantized 1e-6. The bucket counts are associative, so the
# streaming twin shares the SQL.
_DDSKETCH_G = (1.0 + 0.01) / (1.0 - 0.01)
_DDSKETCH_TINY = _DDSKETCH_G ** -150


@query(oracle=f"""
        WITH b AS (
          SELECT event_type,
                 CAST(CASE WHEN value > {_DDSKETCH_TINY!r} THEN ceil(ln(value) / ln({_DDSKETCH_G!r}))
                           WHEN value < -{_DDSKETCH_TINY!r} THEN -ceil(ln(-value) / ln({_DDSKETCH_G!r}))
                           ELSE 0 END AS BIGINT) AS idx,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2),
        c AS (
          SELECT event_type, idx, cnt,
                 CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
          FROM b),
        t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
              FROM b GROUP BY 1),
        qq AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
        hit AS (
          SELECT c.event_type, qq.q,
                 arg_min(
                   floor((CASE WHEN c.idx > 0
                          THEN power({_DDSKETCH_G!r}, c.idx) * 2.0 / ({_DDSKETCH_G!r} + 1.0)
                          WHEN c.idx < 0
                          THEN -power({_DDSKETCH_G!r}, -c.idx) * 2.0 / ({_DDSKETCH_G!r} + 1.0)
                          ELSE 0.0 END) * 1e6) / 1e6,
                   c.idx) AS est,
                 max(t.n) AS n
          FROM c JOIN t USING (event_type) CROSS JOIN qq
          WHERE c.cum >= ceil(qq.q * (t.n - 1)) + 1
          GROUP BY 1, 2)
        SELECT event_type, q, est, CAST(n AS BIGINT) AS n
        FROM hit ORDER BY event_type, q
    """)
def q_ddsketch_quantiles(spark, sf):
    """Mergeable relative-error quantiles (DDSketch, Masson et al.
    VLDB 2019): per-event-type log-γ bucket counts (a few hundred rows
    per group at α=1% for ANY corpus size — partial-combinable like
    the HLL/CMS registers) + the bounded cumulative walk finale. The
    oracle replays bucketing, walk and midpoint estimates exactly."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    events = _t(spark, sf, "events")
    b = sketch.ddsketch_buckets(events, "value", by="event_type", alpha=0.01)
    return sketch.ddsketch_quantiles(
        b, qs=(0.5, 0.9, 0.99), by="event_type", alpha=0.01
    )


@query(oracle_of="ddsketch_quantiles")
def q_t21_stream_ddsketch(spark, sf):
    """T21 — live mergeable quantiles: the DDSketch bucket table
    maintained as an associative streaming sum (state ≤ log-γ-range
    rows per event type); the snapshot feeds the identical quantile
    finale as the batch path, so the batch SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import sketch
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = table_stream(spark, sf, "events")
    live = sketch.ddsketch_buckets(stream, "value", by="event_type", alpha=0.01)
    return sketch.ddsketch_quantiles(
        drain_to_memory(live, "t21_ddsketch"),
        qs=(0.5, 0.9, 0.99),
        by="event_type",
        alpha=0.01,
    )


# T22: per-row stateless matching + a <=10-row associative sum —
# snapshot == the batch matcher aggregated per pattern
@query(oracle=r"""
        WITH d AS MATERIALIZED (
          SELECT doc_id,
                 lower(regexp_replace(text, '[^\x20-\x7e]', '', 'g')) AS t
          FROM documents),
        tok AS (
          SELECT unnest(regexp_split_to_array(t, '[^a-z0-9]+')) AS w
          FROM d),
        pat AS MATERIALIZED (
          SELECT w AS pattern FROM tok WHERE length(w) >= 6
          GROUP BY w ORDER BY count(*) DESC, w LIMIT 10),
        pos AS (
          SELECT doc_id, t, unnest(range(length(t))) AS p FROM d)
        SELECT pattern, CAST(count(*) AS BIGINT) AS n_hits
        FROM pos JOIN pat
          ON substr(t, p + 1, length(pattern)) = pattern
        GROUP BY pattern ORDER BY pattern
    """)
def q_t22_stream_blocklist(spark, sf):
    """T22 — live blocklist telemetry: the batch-derived pattern table
    (static, broadcast) screens a document ingest stream per-row
    (stateless window hashes ⋈ static prefix table + value verify —
    the IDENTICAL textsearch helper the batch matcher uses); the only
    stream state is the per-pattern associative sum, ≤ blocklist-size
    rows. Snapshot == the batch counts aggregated per pattern, so the
    aggregated batch SQL is the oracle."""
    from pdf_to_vectordb_etl_spark.operators import textsearch
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_blocklist_totals,
        table_stream,
    )

    ascii_lower = F.lower(F.regexp_replace("text", r"[^\x20-\x7e]", ""))
    batch_docs = spark.read.parquet(f"{sf}/documents.parquet")
    toks = batch_docs.select(
        F.explode(textsearch.tokens(ascii_lower)).alias("w")
    ).filter(F.length("w") >= 6)
    pats = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(10)
        .select(F.col("w").alias("pattern"))
        # materialize once: the emptiness probe, the prefix table's
        # .first(), and the per-batch broadcast all reuse these 10 rows
        .localCheckpoint(eager=True)
    )
    if pats.limit(1).count() == 0:
        # degenerate corpus (no >=6-char words): the batch matcher
        # returns empty for an empty blocklist; so does the screen
        return spark.createDataFrame([], "pattern string, n_hits long")
    stream = (
        table_stream(spark, sf, "documents")
        .select("doc_id", ascii_lower.alias("text"))
    )
    live = stream_blocklist_totals(stream, pats)
    return drain_to_memory(live, "t22_blocklist").orderBy("pattern")


def _bpe_train_oracle_sql(n_merges: int = 8) -> str:
    """Unrolled DuckDB replay of bpe_train_merges: one
    (pair-count, argmax, rewrite) CTE block per merge round.
    MATERIALIZED on every round's vocab and argmax — each is
    referenced several times and inlining would re-execute the whole
    prefix per reference (the k-center/MMR lesson). An empty argmax
    cascades NULL vocab -> zero rows for all later rounds, matching
    the operator's early break."""
    ctes = [
        r"""v0 AS MATERIALIZED (
              SELECT CAST(count(*) AS BIGINT) AS freq,
                     regexp_replace(w, '(.)', ' \1 ', 'g') AS s
              FROM (SELECT unnest(string_split_regex(lower(
                       regexp_replace(text, '[^\x20-\x7e]', '', 'g')),
                       '\s+')) AS w
                    FROM documents)
              WHERE length(w) > 0
              GROUP BY w)"""
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""p{k} AS (
              SELECT ws[i] AS l, ws[i + 1] AS r,
                     CAST(sum(freq) AS BIGINT) AS n
              FROM (SELECT freq, ws,
                           unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM (SELECT freq, string_split(trim(s), '  ') AS ws
                          FROM v{k - 1})
                    WHERE len(ws) > 1)
              GROUP BY l, r),
            m{k} AS MATERIALIZED (
              SELECT l, r, n FROM p{k} ORDER BY n DESC, l, r LIMIT 1),
            v{k} AS MATERIALIZED (
              SELECT freq,
                     replace(s,
                       ' ' || (SELECT l FROM m{k}) || '  '
                           || (SELECT r FROM m{k}) || ' ',
                       ' ' || (SELECT l FROM m{k})
                           || (SELECT r FROM m{k}) || ' ') AS s
              FROM v{k - 1})"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {k} AS step, l, r, n FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals

@query(oracle=_bpe_train_oracle_sql(8))
def q_bpe_train(spark, sf):
    """FULL BPE tokenizer training (8 merge rounds) on the ASCII-
    projected corpus: the learned merge table, bit-deterministic in
    any engine (integer pair counts, lexicographic tiebreaks). The
    oracle replays all 8 rounds as an unrolled MATERIALIZED CTE chain
    — the same pattern as the PageRank/IVF-PQ/MMR replays. See
    textanalysis.bpe_train_merges for the vocab-collapse scale shape
    and the ' sym '-wrapped encoding that makes literal replace() a
    correct left-to-right merge."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    docs = _t(spark, sf, "documents")
    d2 = docs.select(
        F.regexp_replace("text", r"[^\x20-\x7e]", "").alias("text")
    )
    return ta.bpe_train_merges(d2, n_merges=8)


def _unigram_oracle_sql(
    vocab_size: int = 48,
    n_rounds: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    min_count: int = 2,
    seed_cap_factor: int = 4,
) -> str:
    """DuckDB replay of unigram_lm_train: the same substring seed,
    then each hard-EM round unrolled as ONE recursive CTE that carries
    the whole Viterbi dp LIST per word through the positions (the
    rouge_l diagonal-list pattern), with the identical integer-exact
    objective — min(struct{k, negs, ps}) is the same lexicographic
    struct/list comparison in both engines (verified: nested list
    ordering matches Spark's). All intermediate piece tables are
    MATERIALIZED (each feeds an edge join AND the next round — the
    k-center inlining lesson)."""
    inf = 1 << 20
    seed_cap = seed_cap_factor * vocab_size

    rounds = []
    prev = "p0"
    for r in range(1, n_rounds + 1):
        block = f"""
            eg{r} AS MATERIALIZED (
              SELECT o.w, any_value(o.freq) AS freq,
                     any_value(o.wlen) AS wlen,
                     list_sort(list(
                       {{'i': o.i, 'j': o.j, 'n': p.n,
                         'piece': o.piece}})) AS edges
              FROM occ2 o JOIN {prev} p USING (piece)
              GROUP BY o.w),
            dp{r} AS (
              SELECT w, freq, wlen, 0 AS iter,
                     list_transform(generate_series(0, wlen),
                       p -> {{'k': CASE WHEN p = 0 THEN 0
                                   ELSE {inf} END,
                             'negs': CAST(0 AS BIGINT),
                             'ps': CAST([] AS VARCHAR[])}}) AS dp
              FROM eg{r}
              UNION ALL
              SELECT d.w, d.freq, d.wlen, d.iter + 1,
                     list_transform(generate_series(0, d.wlen),
                       p -> CASE WHEN p = d.iter + 1
                                  AND len(list_filter(x.edges,
                                        e -> e.j = d.iter + 1
                                         AND d.dp[e.i + 1].k < {inf}))
                                      > 0
                            THEN list_sort(list_transform(
                                   list_filter(x.edges,
                                     e -> e.j = d.iter + 1
                                      AND d.dp[e.i + 1].k < {inf}),
                                   e -> {{'k': d.dp[e.i + 1].k + 1,
                                         'negs': d.dp[e.i + 1].negs
                                                 - e.n,
                                         'ps': list_append(
                                             d.dp[e.i + 1].ps,
                                             e.piece)}}))[1]
                            ELSE d.dp[p + 1] END)
              FROM dp{r} d JOIN eg{r} x USING (w)
              WHERE d.iter < d.wlen),
            seg{r} AS MATERIALIZED (
              SELECT freq, dp[wlen + 1].ps AS ps
              FROM dp{r}
              WHERE iter = wlen AND dp[wlen + 1].k < {inf}),
            rc{r} AS MATERIALIZED (
              SELECT piece, CAST(sum(freq) AS BIGINT) AS n
              FROM (SELECT freq, unnest(ps) AS piece FROM seg{r})
              GROUP BY piece),
            p{r} AS MATERIALIZED (
              SELECT c.piece, CAST(coalesce(r.n, 0) AS BIGINT) AS n
              FROM (SELECT piece FROM {prev}
                    WHERE length(piece) = 1) c
              LEFT JOIN rc{r} r USING (piece)
              UNION ALL
              SELECT piece, n FROM (
                SELECT piece, n FROM rc{r}
                WHERE length(piece) > 1
                ORDER BY n DESC, piece
                LIMIT {vocab_size}))"""
        rounds.append(block)
        prev = f"p{r}"

    return f"""
        WITH RECURSIVE w0 AS (
          SELECT w, CAST(count(*) AS BIGINT) AS freq,
                 CAST(length(w) AS INT) AS wlen
          FROM (SELECT unnest(string_split_regex(
                  lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')),
                  '\\s+')) AS w
                FROM documents)
          WHERE length(w) BETWEEN 1 AND {max_word_len}
          GROUP BY w),
        occ2 AS MATERIALIZED (
          SELECT w, freq, wlen, s.i AS i, s.j AS j,
                 substr(w, s.i + 1, s.j - s.i) AS piece
          FROM (SELECT w, freq, wlen,
                       unnest(flatten(list_transform(
                         generate_series(0, wlen - 1),
                         i -> list_transform(
                           generate_series(i + 1,
                                           least(i + {max_piece_len},
                                                 wlen)),
                           j -> {{'i': i, 'j': j}})))) AS s
                FROM w0)),
        sc AS (
          SELECT piece, CAST(sum(freq) AS BIGINT) AS n
          FROM occ2 GROUP BY piece),
        p0 AS MATERIALIZED (
          SELECT piece, n FROM sc WHERE length(piece) = 1
          UNION ALL
          SELECT piece, n FROM (
            SELECT piece, n FROM sc
            WHERE length(piece) > 1 AND n >= {min_count}
            ORDER BY n DESC, piece
            LIMIT {seed_cap})),
        {",".join(rounds)},
        tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS t
                FROM {prev})
        SELECT piece, CAST(length(piece) AS INT) AS piece_len, n,
               CASE WHEN t > 0
                    THEN floor(n * 1000000 / t) / 1e6
                    ELSE 0.0 END AS p_q6
        FROM {prev}, tot
    """

@query(oracle=_unigram_oracle_sql())
def q_unigram_lm_train(spark, sf):
    """Unigram-LM (SentencePiece-class) tokenizer training on the
    ASCII-projected corpus: substring-candidate seed, 2 hard-EM rounds
    of (integer-exact Viterbi segmentation -> recount -> prune). The
    libm-free objective (min pieces, max summed frequency, lexico-
    graphically least path) makes every round bit-deterministic in any
    engine; the oracle replays both rounds as recursive-CTE DPs over
    the same edge tables. See textanalysis.unigram_lm_train."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    docs = _t(spark, sf, "documents")
    d2 = docs.select(
        F.regexp_replace("text", r"[^\x20-\x7e]", "").alias("text")
    )
    return ta.unigram_lm_train(
        d2, vocab_size=48, n_rounds=2, max_piece_len=4, max_word_len=12,
        min_count=2, seed_cap_factor=4,
    )


# GPT-2 pre-tokenization in DuckDB: pass-1 regexp_extract_all with the
# lookahead-free alternation (RE2 has no lookahead; leftmost-first
# semantics match Java regex), pass-2 whitespace surgery as list
# arithmetic — the exact twin of textanalysis.gpt2_pretokens, pinned
# equivalent to the published GPT-2 regex by tests.
_GPT2_PRETOKEN_SQL_RE = (
    r"''(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+"
    r"|[ \t\n\x0B\f\r]+"
)

_GPT2_TOKS_SQL = r"""
    flatten(list_transform(generate_series(1, len(tk)), i ->
      CASE
        WHEN regexp_matches(tk[i], '^[ \t\n\x0B\f\r]+$') AND i < len(tk)
        THEN
          (CASE WHEN length(tk[i]) >= 2
                THEN [substr(tk[i], 1, length(tk[i]) - 1)]
                ELSE CAST([] AS VARCHAR[]) END)
          || (CASE WHEN substr(tk[i], length(tk[i]), 1) <> ' '
                   THEN [substr(tk[i], length(tk[i]), 1)]
                   ELSE CAST([] AS VARCHAR[]) END)
        WHEN i > 1
             AND regexp_matches(tk[i - 1], '^[ \t\n\x0B\f\r]+$')
             AND substr(tk[i - 1], length(tk[i - 1]), 1) = ' '
        THEN CASE WHEN tk[i] IN
                    ('''s', '''t', '''re', '''ve', '''m', '''ll', '''d')
                  THEN CASE WHEN i < len(tk)
                             AND regexp_matches(tk[i + 1], '^\p{L}+$')
                            THEN [' ''']
                            ELSE [' ''',
                                  substr(tk[i], 2, length(tk[i]) - 1)]
                       END
                  ELSE [' ' || tk[i]] END
        WHEN i > 2
             AND regexp_matches(tk[i - 2], '^[ \t\n\x0B\f\r]+$')
             AND substr(tk[i - 2], length(tk[i - 2]), 1) = ' '
             AND tk[i - 1] IN
                 ('''s', '''t', '''re', '''ve', '''m', '''ll', '''d')
             AND regexp_matches(tk[i], '^\p{L}+$')
        THEN [substr(tk[i - 1], 2, length(tk[i - 1]) - 1) || tk[i]]
        ELSE [tk[i]]
      END))
"""


def _bpe_bytelevel_oracle_sql(n_merges: int, what: str) -> str:
    """Unrolled DuckDB replay of byte-level BPE — the
    _bpe_train_oracle_sql skeleton over the GPT-2 pre-token vocab with
    hex-pair byte symbols. ``what``: 'train' emits the merge table,
    'encode' joins the final vocab segmentation back to the per-doc
    token stream (sentinel-row doc stats, the lexical_diversity trick)
    and rolls up per source with the round-trip conservation audit."""
    ctes = [
        f"""blpt AS MATERIALIZED (
              SELECT doc_id, source, text, {_GPT2_TOKS_SQL} AS toks
              FROM (SELECT doc_id, source, coalesce(text, '') AS text,
                           regexp_extract_all(coalesce(text, ''),
                             '{_GPT2_PRETOKEN_SQL_RE}', 0) AS tk
                    FROM documents))""",
        r"""blv0 AS MATERIALIZED (
              SELECT w, CAST(count(*) AS BIGINT) AS freq,
                     regexp_replace(hex(encode(w)), '(..)', ' \1 ', 'g')
                       AS s
              FROM (SELECT unnest(toks) AS w FROM blpt)
              GROUP BY w)""",
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""blp{k} AS (
              SELECT ws[i] AS l, ws[i + 1] AS r,
                     CAST(sum(freq) AS BIGINT) AS n
              FROM (SELECT freq, ws,
                           unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM (SELECT freq, string_split(trim(s), '  ') AS ws
                          FROM blv{k - 1})
                    WHERE len(ws) > 1)
              GROUP BY l, r),
            blm{k} AS MATERIALIZED (
              SELECT l, r, n FROM blp{k} ORDER BY n DESC, l, r LIMIT 1),
            blv{k} AS MATERIALIZED (
              SELECT w, freq,
                     replace(s,
                       ' ' || coalesce((SELECT l FROM blm{k}), chr(1))
                           || '  '
                           || coalesce((SELECT r FROM blm{k}), chr(1))
                           || ' ',
                       ' ' || coalesce((SELECT l FROM blm{k}), chr(1))
                           || coalesce((SELECT r FROM blm{k}), chr(1))
                           || ' ') AS s
              FROM blv{k - 1})"""
        )
    if what == "train":
        finals = " UNION ALL ".join(
            f"SELECT {k} AS step, l, r, n FROM blm{k}"
            for k in range(1, n_merges + 1)
        )
        return "WITH " + ",\n".join(ctes) + "\n" + finals
    if what == "fertility":
        ctes.append(
            f"""blpieces AS MATERIALIZED (
              SELECT 't' || w AS vkey,
                     CAST(len(string_split(trim(s), '  ')) AS BIGINT)
                       AS n_pieces
              FROM blv{n_merges}),
            blcells AS (
              SELECT source AS grp,
                     unnest(list_append(
                       list_transform(toks, t -> 't' || t),
                       'd' || CAST(strlen(text) AS VARCHAR))) AS cell
              FROM blpt),
            blj AS (
              SELECT grp, cell, n_pieces
              FROM blcells LEFT JOIN blpieces ON cell = vkey),
            blsrc AS (
              SELECT grp,
                     CAST(coalesce(sum(CASE WHEN cell LIKE 't%' THEN 0
                                       ELSE 1 END), 0) AS BIGINT)
                       AS n_docs,
                     CAST(coalesce(sum(CASE WHEN cell LIKE 't%' THEN 1
                                       END), 0) AS BIGINT)
                       AS n_pretokens,
                     CAST(coalesce(sum(CASE WHEN cell LIKE 't%'
                                       THEN n_pieces END), 0) AS BIGINT)
                       AS n_tokens,
                     CAST(coalesce(sum(CASE WHEN cell LIKE 't%' THEN NULL
                                       ELSE CAST(substr(cell, 2)
                                                 AS BIGINT) END), 0)
                          AS BIGINT) AS n_bytes,
                     CAST(coalesce(sum(CASE WHEN cell LIKE 't%'
                                        AND n_pieces IS NULL
                                       THEN 1 END), 0) AS BIGINT)
                       AS n_oov
              FROM blj GROUP BY grp)"""
        )
        finals = """
        SELECT grp AS source, n_docs, n_pretokens, n_tokens, n_bytes,
               n_oov,
               CASE WHEN n_pretokens > 0 THEN
                 CAST((CAST(n_tokens AS HUGEINT) * 1000000)
                      // n_pretokens AS BIGINT) / 1e6
               END AS fertility_q6,
               CASE WHEN n_tokens > 0 THEN
                 CAST((CAST(n_bytes AS HUGEINT) * 1000000)
                      // n_tokens AS BIGINT) / 1e6
               END AS bytes_per_token_q6
        FROM blsrc"""
        return "WITH " + ",\n".join(ctes) + "\n" + finals
    ctes.append(
        f"""blpieces AS MATERIALIZED (
              SELECT 't' || w AS vkey,
                     CAST(len(string_split(trim(s), '  ')) AS BIGINT)
                       AS n_pieces,
                     (decode(unhex(replace(s, ' ', ''))) = w) AS rt_piece
              FROM blv{n_merges}),
            blcells AS (
              SELECT source AS grp, doc_id AS id,
                     unnest(list_append(
                       list_transform(toks, t -> 't' || t),
                       'd' || CAST(strlen(text) AS VARCHAR))) AS cell
              FROM blpt),
            blj AS (
              SELECT grp, id, cell, n_pieces, rt_piece
              FROM blcells LEFT JOIN blpieces ON cell = vkey),
            bldoc AS (
              SELECT grp, id,
                CAST(coalesce(sum(CASE WHEN cell LIKE 't%' THEN 1 END),
                              0) AS BIGINT) AS n_pre,
                CAST(coalesce(sum(CASE WHEN cell LIKE 't%'
                                  THEN strlen(substr(cell, 2)) END),
                              0) AS BIGINT) AS tok_bytes,
                max(CASE WHEN cell LIKE 'd%'
                     THEN CAST(substr(cell, 2) AS BIGINT) END) AS n_bytes,
                CAST(coalesce(sum(CASE WHEN cell LIKE 't%'
                                  THEN n_pieces END),
                              0) AS BIGINT) AS n_toks,
                min(CASE WHEN cell LIKE 't%' THEN rt_piece END) AS all_rt
              FROM blj GROUP BY grp, id),
            blagg AS (
              SELECT grp, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_pre) AS BIGINT) AS n_pretokens,
                     CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                     CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
                     CAST(sum(CASE WHEN tok_bytes = n_bytes
                                    AND coalesce(all_rt, TRUE)
                                   THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_roundtrip_docs
              FROM bldoc GROUP BY grp)"""
    )
    finals = """
        SELECT grp AS source, n_docs, n_pretokens, n_tokens, n_bytes,
               n_roundtrip_docs,
               CASE WHEN n_pretokens > 0 THEN
                 CAST((CAST(n_tokens AS HUGEINT) * 1000000)
                      // n_pretokens AS BIGINT) / 1e6
               END AS fertility_q6,
               CASE WHEN n_tokens > 0 THEN
                 CAST((CAST(n_bytes AS HUGEINT) * 1000000)
                      // n_tokens AS BIGINT) / 1e6
               END AS bytes_per_token_q6
        FROM blagg"""
    return "WITH " + ",\n".join(ctes) + "\n" + finals


# DSIR replay: same hashed uni+bigram buckets (16 md5 bits mod
# 4096 — zero modulo bias), add-1 smoothed target/raw models,
# per-doc log-ratio sum, rounded-score top-50.
@query(oracle=r"""
            WITH d AS (
              SELECT doc_id, lang,
                     string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ') AS ws
              FROM documents),
            g AS (
              SELECT doc_id, lang, tok FROM (
                SELECT doc_id, lang,
                       unnest(list_filter(ws, w -> w <> '')) AS tok
                FROM d
                UNION ALL
                SELECT doc_id, lang,
                       unnest(list_transform(
                         generate_series(1, len(ws) - 1),
                         i -> ws[i] || ' ' || ws[i + 1])) AS tok
                FROM d WHERE len(ws) >= 2)
              WHERE tok <> ''),
            bk AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5(tok), 1, 4))::BIGINT % 4096 AS b
              FROM g),
            th AS (SELECT b, count(*) AS c FROM bk WHERE lang = 'en'
                   GROUP BY b),
            tt AS (SELECT coalesce(sum(c), 0) AS t FROM th),
            rh AS (SELECT b, count(*) AS c FROM bk GROUP BY b),
            rt AS (SELECT sum(c) AS t FROM rh),
            ratio AS (
              SELECT r.b,
                     CAST(floor((coalesce(
                       ln((t2.c + 1.0) / ((SELECT t FROM tt) + 4096.0)),
                       ln(1.0 / ((SELECT t FROM tt) + 4096.0)))
                     - ln((r.c + 1.0) / ((SELECT t FROM rt) + 4096.0)))
                       * 1e9) AS BIGINT) AS lr_q
              FROM rh r LEFT JOIN th t2 ON r.b = t2.b),
            sc AS (
              SELECT bk.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                     floor(CAST(sum(ratio.lr_q) AS DOUBLE) / 1000.0)
                       / 1e6 AS logw
              FROM bk JOIN ratio USING (b) GROUP BY bk.doc_id)
            SELECT doc_id, n_grams, logw FROM sc
            ORDER BY logw DESC, doc_id LIMIT 50
        """)
def q_dsir_select(spark, sf):
    """DSIR data selection (Xie et al. 2023): hashed uni+bigram bag
    models on target (lang='en') vs the raw pool, per-doc log
    importance ratio, top-50. Two 4096-row broadcast histograms + one
    per-doc sum — see curation.dsir_weights."""
    from pdf_to_vectordb_etl_spark.operators import curation

    # the local fixture is one parquet file = one scan partition;
    # spread the doc rows so the gram explode parallelizes (a real
    # corpus scan arrives multi-split and skips this)
    docs = _t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return curation.dsir_weights(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=4096, k=50
    )


@query(oracle=r"""
            WITH raw AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS ws
              FROM documents),
            toks AS (
              SELECT doc_id, unnest(ws) AS tok, unnest(range(len(ws))) AS pos
              FROM raw),
            t2 AS (SELECT * FROM toks WHERE tok <> ''),
            big AS (
              SELECT doc_id, tok AS w1,
                     lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              FROM t2),
            b2 AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
            vs AS (SELECT count(DISTINCT tok) AS v FROM t2),
            bc AS (SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY w1, w2),
            uc AS (SELECT w1, count(*) AS c1 FROM b2 GROUP BY w1),
            probs AS (
              SELECT bc.w1, bc.w2,
                     ln((c12 + 0.5) / (c1 + 0.5 * v)) AS lp
              FROM bc JOIN uc ON bc.w1 = uc.w1 CROSS JOIN vs),
            scores AS (
              SELECT b2.doc_id, round(exp(-avg(lp)), 4) AS ppl,
                     count(*) AS n_bigrams
              FROM b2 JOIN probs ON b2.w1 = probs.w1 AND b2.w2 = probs.w2
              GROUP BY b2.doc_id),
            cut AS (SELECT round(quantile_cont(ppl, 0.75), 4) AS c FROM scores)
            SELECT doc_id, ppl, n_bigrams
            FROM scores, cut WHERE ppl <= c
        """)
def q_ta_perplexity(spark, sf):
    """CCNet-style perplexity filter: score every doc under an add-k
    corpus bigram LM (textanalysis.smoothed_perplexity_scores), then
    keep docs at or below the exact 75th-percentile perplexity — the
    cutpoint comes from one partial-combinable ``percentile`` aggregate
    broadcast back (no global sort; same shape as token_pareto).
    Cut rounded to 4 decimals on both engines."""
    docs = _t(spark, sf, "documents")
    scores = ta.smoothed_perplexity_scores(docs, k=0.5)
    cut = scores.agg(F.round(F.percentile("ppl", F.lit(0.75)), 4).alias("cut"))
    return (
        scores.crossJoin(F.broadcast(cut))
        .filter(F.col("ppl") <= F.col("cut"))
        .select("doc_id", "ppl", "n_bigrams")
    )


@query(oracle="""
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            sg AS (
              SELECT vec_id, v,
                     list_transform(range(CAST(ceil(len(v) / 32.0) AS INT)),
                       w -> list_sum(list_transform(range(32),
                         j -> CASE WHEN 32*w + j + 1 <= len(v)
                                    AND v[32*w + j + 1] > 0
                              THEN CAST(2**j AS BIGINT) ELSE 0 END))) AS sig
              FROM base),
            q AS (SELECT vec_id AS qid, v AS qv, sig AS qsig
                  FROM sg WHERE vec_id < 3),
            c AS (SELECT vec_id, v, sig FROM sg WHERE vec_id >= 3),
            ham AS (
              SELECT qid, c.vec_id, qv, v,
                     CAST(list_sum(list_transform(range(len(sig)),
                       i -> bit_count(xor(sig[i+1], qsig[i+1])))) AS INT)
                       AS hamming
              FROM c CROSS JOIN q),
            s1 AS (
              SELECT *, row_number() OVER (PARTITION BY qid
                        ORDER BY hamming, vec_id) AS r1
              FROM ham),
            s2 AS (
              SELECT qid, vec_id, hamming,
                     round(list_cosine_similarity(v, qv), 4) AS cosine
              FROM s1 WHERE r1 <= 20)
            SELECT qid, vec_id, hamming, cosine, rank FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY qid
                             ORDER BY cosine DESC, vec_id) AS INT) AS rank
              FROM s2)
            WHERE rank <= 5
        """)
def q_binary_hamming_topk(spark, sf):
    """Two-stage ANN over 1-bit sign signatures: Hamming shortlist on
    packed 32-bit words (xor + popcount — 1/32nd of the vector bytes
    read), exact-cosine rerank of the shortlist only. Both stages are
    WindowGroupLimit per-query windows; see
    quantization.binary_topk_rerank."""
    from pdf_to_vectordb_etl_spark.operators import quantization as qz

    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 3)
    return qz.binary_topk_rerank(c, q, k=5, shortlist=20)


@query(oracle="""
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv FROM base WHERE vec_id < 5),
            c AS (SELECT vec_id, v FROM base WHERE vec_id >= 5),
            sims AS (
              SELECT qid, vec_id,
                     round(list_cosine_similarity(v, qv), 5) AS s_full,
                     round(list_cosine_similarity(v[1:16], qv[1:16]), 5) AS s_16,
                     round(list_cosine_similarity(v[1:32], qv[1:32]), 5) AS s_32
              FROM c CROSS JOIN q),
            full_k AS (
              SELECT qid, vec_id FROM (
                SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY s_full DESC, vec_id) AS r FROM sims)
              WHERE r <= 10),
            k16 AS (
              SELECT qid, vec_id FROM (
                SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY s_16 DESC, vec_id) AS r FROM sims)
              WHERE r <= 10),
            k32 AS (
              SELECT qid, vec_id FROM (
                SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
                       ORDER BY s_32 DESC, vec_id) AS r FROM sims)
              WHERE r <= 10),
            h16 AS (SELECT qid, count(*) / 10.0 AS recall
                    FROM k16 JOIN full_k USING (qid, vec_id) GROUP BY qid),
            h32 AS (SELECT qid, count(*) / 10.0 AS recall
                    FROM k32 JOIN full_k USING (qid, vec_id) GROUP BY qid)
            SELECT 16 AS prefix_dim, q.qid, coalesce(h16.recall, 0.0) AS recall
            FROM q LEFT JOIN h16 ON q.qid = h16.qid
            UNION ALL
            SELECT 32 AS prefix_dim, q.qid, coalesce(h32.recall, 0.0) AS recall
            FROM q LEFT JOIN h32 ON q.qid = h32.qid
        """)
def q_mrl_recall(spark, sf):
    """Matryoshka truncation sweep: recall@10 of 16- and 32-dim prefix
    cosine rankings vs the full 64-dim ranking, per query — one
    broadcast cross join computes every similarity column in a single
    corpus pass; each ranking is WindowGroupLimit. See
    embedding.matryoshka_topk_recall."""
    from pdf_to_vectordb_etl_spark.operators import embedding as ebd

    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 5)
    return ebd.matryoshka_topk_recall(c, q, prefix_dims=(16, 32), k=10)


@query(oracle="""
            WITH f AS (
              SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE)
                       AS cohort_day
              FROM events GROUP BY user_id),
            sz AS (SELECT cohort_day, count(*) AS cohort_size
                   FROM f GROUP BY cohort_day),
            j AS (
              SELECT e.user_id, f.cohort_day,
                     datediff('day', f.cohort_day, CAST(e.ts AS DATE))
                       AS day_offset
              FROM events e JOIN f ON e.user_id = f.user_id),
            c AS (SELECT cohort_day, day_offset,
                         count(DISTINCT user_id) AS n_users
                  FROM j GROUP BY cohort_day, day_offset)
            SELECT c.cohort_day, c.day_offset, c.n_users,
                   round(c.n_users / CAST(sz.cohort_size AS DOUBLE), 4)
                     AS retention
            FROM c JOIN sz USING (cohort_day)
        """)
def q_cohort_retention(spark, sf):
    """Cohort-retention triangle on the event stream: users bucketed by
    first-seen day, distinct actives per (cohort_day, day_offset), rate
    vs cohort size. Two same-key hash aggs + a broadcast cohort-size
    join; see aggregates.cohort_retention."""
    ev = _t(spark, sf, "events").withColumn(
        "t", F.timestamp_micros(F.expr("ts div 1000"))
    )
    return aggregates.cohort_retention(ev, user_col="user_id", time_col="t")


@query(oracle="""
            WITH e AS (
              SELECT user_id, event_id, value, epoch_us(ts) AS tus
              FROM events),
            w AS (
              SELECT user_id, event_id, value,
                     avg(value) OVER win AS m,
                     stddev_samp(value) OVER win AS sd
              FROM e
              WINDOW win AS (PARTITION BY user_id ORDER BY tus, event_id
                             ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
            SELECT user_id, event_id, round(value, 4) AS value,
                   round((value - m) / sd, 4) AS z
            FROM w
            WHERE sd IS NOT NULL AND sd > 0
              AND abs(round((value - m) / sd, 4)) > 2.5
        """)
def q_anomaly_zscore(spark, sf):
    """Trailing-window anomaly detection: per-user rolling mean/std
    over the previous 20 events (frame excludes self), emit |z| > 2.5.
    One ROWS-bounded window per key; z rounded before the threshold so
    replays flag identical rows. See aggregates.rolling_zscore_flags."""
    ev = _t(spark, sf, "events").withColumn("tus", F.expr("ts div 1000"))
    return aggregates.rolling_zscore_flags(
        ev, key_col="user_id", order_cols=("tus", "event_id"),
        value_col="value", lookback=20, threshold=2.5,
    )


@query(oracle="""
            WITH lo AS (
              SELECT l_orderkey, l_suppkey,
                     l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
            per AS (
              SELECT l_orderkey,
                     count(DISTINCT l_suppkey) AS n_supp,
                     count(DISTINCT CASE WHEN late THEN l_suppkey END)
                       AS n_late
              FROM lo GROUP BY l_orderkey),
            sole AS (SELECT l_orderkey FROM per
                     WHERE n_supp > 1 AND n_late = 1)
            SELECT s_name, count(*) AS numwait
            FROM lo
            JOIN sole USING (l_orderkey)
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE late
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 10
        """)
def q_sole_late_supplier(spark, sf):
    """Q21-class (waiting-supplier): suppliers that were the ONLY late
    shipper in a multi-supplier order. Decorrelated formulation: one
    lineitem⋈orders join derives lateness, one per-order hash agg
    counts (suppliers, late suppliers), qualifying orders join back —
    no correlated EXISTS/NOT-EXISTS pair, no per-row re-scan of
    lineitem; top-10 is TakeOrderedAndProject."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    s = _t(spark, sf, "supplier")
    lo = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    per = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late"
        ),
    )
    sole = per.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)).select(
        "l_orderkey"
    )
    waits = (
        lo.filter("late")
        .join(sole, "l_orderkey")
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        waits.groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@query(oracle="""
            WITH e0 AS (
              SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
              FROM events),
            tr AS (
              SELECT event_type AS s,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY tus, event_id) AS t
              FROM e0),
            e AS (SELECT s AS src, t AS dst, CAST(count(*) AS DOUBLE) AS w
                  FROM tr WHERE t IS NOT NULL GROUP BY s, t),
            ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
            p AS (SELECT e.src, e.dst, w / ow AS p
                  FROM e JOIN ow ON e.src = ow.src),
            nodes AS (SELECT DISTINCT node FROM (
              SELECT src AS node FROM e UNION SELECT dst FROM e)),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            base AS (SELECT node, n FROM nodes CROSS JOIN nn),
            hasout AS (SELECT DISTINCT src FROM p),
            r0 AS (SELECT node, n, 1.0 / n AS rank FROM base),
            d0 AS (SELECT coalesce(sum(rank), 0) AS m FROM r0
                   LEFT JOIN hasout ON node = src WHERE src IS NULL),
            c0 AS (SELECT dst, sum(rank * p.p) AS c
                   FROM r0 JOIN p ON node = p.src GROUP BY dst),
            r1 AS (SELECT node, n, (1 - 0.85) / n
                     + 0.85 * (coalesce(c, 0) + d0.m / n) AS rank
                   FROM base LEFT JOIN c0 ON node = dst CROSS JOIN d0),
            d1 AS (SELECT coalesce(sum(rank), 0) AS m FROM r1
                   LEFT JOIN hasout ON node = src WHERE src IS NULL),
            c1 AS (SELECT dst, sum(rank * p.p) AS c
                   FROM r1 JOIN p ON node = p.src GROUP BY dst),
            r2 AS (SELECT node, n, (1 - 0.85) / n
                     + 0.85 * (coalesce(c, 0) + d1.m / n) AS rank
                   FROM base LEFT JOIN c1 ON node = dst CROSS JOIN d1),
            d2 AS (SELECT coalesce(sum(rank), 0) AS m FROM r2
                   LEFT JOIN hasout ON node = src WHERE src IS NULL),
            c2 AS (SELECT dst, sum(rank * p.p) AS c
                   FROM r2 JOIN p ON node = p.src GROUP BY dst),
            r3 AS (SELECT node, (1 - 0.85) / n
                     + 0.85 * (coalesce(c, 0) + d2.m / n) AS rank
                   FROM base LEFT JOIN c2 ON node = dst CROSS JOIN d2)
            SELECT node, round(rank, 6) AS rank FROM r3
        """)
def q_graph_pagerank(spark, sf):
    """Weighted PageRank (3 fixed iterations, damping 0.85, dangling
    mass redistributed) over the user-journey transition graph derived
    from the event stream. Per iteration: one rank⋈edges equi-join +
    one hash agg — the standard distributed formulation; see
    operators/graph.py for the lineage-truncation notes."""
    from pdf_to_vectordb_etl_spark.operators import graph

    ev = _t(spark, sf, "events").withColumn("tus", F.expr("ts div 1000"))
    edges = graph.transition_edges(ev)
    return graph.pagerank(edges, iterations=3, damping=0.85, weight_col="w")


def _mmr_oracle_sql(k: int = 5, shortlist: int = 15, nq: int = 3) -> str:
    """DuckDB replay of the full MMR greedy selection: the shortlist +
    pair table once, then one (max-sim, score, argmax) CTE block per
    greedy step — same unrolled-iteration pattern as the PageRank and
    IVF-PQ oracles. `(1 - 0.7)` is left symbolic so both engines derive
    the identical double for 1-lambda."""
    blocks = []
    prev = "sel1"
    for step in range(2, k + 1):
        # MATERIALIZED: stop DuckDB inlining each greedy prefix into its
        # two references per step (same fix as the k-center oracle)
        blocks.append(f"""
            m{step} AS MATERIALIZED (
              SELECT p.qid, p.ca AS cid, max(p.sim) AS ms
              FROM pairs p JOIN {prev} s ON p.qid = s.qid AND p.cb = s.cid
              GROUP BY p.qid, p.ca),
            r{step} AS MATERIALIZED (
              SELECT r.qid, r.cid, r.rel,
                     round(0.7 * r.rel - (1 - 0.7) * m{step}.ms, 6) AS sc
              FROM rel r JOIN m{step}
                ON r.qid = m{step}.qid AND r.cid = m{step}.cid
              WHERE NOT EXISTS (SELECT 1 FROM {prev} s
                                WHERE s.qid = r.qid AND s.cid = r.cid)),
            s{step} AS MATERIALIZED (
              SELECT qid, cid, rel, {step} AS mmr_rank FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY sc DESC, cid) AS rn FROM r{step})
              WHERE rn = 1),
            sel{step} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL
                          SELECT * FROM s{step})""")
        prev = f"sel{step}"
    return f"""
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv FROM base
                  WHERE vec_id < {nq}),
            c AS (SELECT vec_id AS cid, v FROM base WHERE vec_id >= {nq}),
            sc AS (
              SELECT qid, cid, v,
                     round(list_cosine_similarity(v, qv), 6) AS rel
              FROM c CROSS JOIN q),
            cand AS MATERIALIZED (
              SELECT qid, cid, v, rel FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY rel DESC, cid) AS rn FROM sc)
              WHERE rn <= {shortlist}),
            rel AS (SELECT qid, cid, rel FROM cand),
            pairs AS MATERIALIZED (
              SELECT a.qid, a.cid AS ca, b.cid AS cb,
                     round(list_cosine_similarity(a.v, b.v), 6) AS sim
              FROM cand a JOIN cand b
                ON a.qid = b.qid AND a.cid <> b.cid),
            sel1 AS (
              SELECT qid, cid, rel, 1 AS mmr_rank FROM (
                SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY rel DESC, cid) AS rn FROM rel)
              WHERE rn = 1),{",".join(blocks)}
            SELECT qid, cid AS vec_id, rel, mmr_rank FROM {prev}
        """

@query(oracle=_mmr_oracle_sql())
def q_mmr_rerank(spark, sf):
    """MMR diversified top-5 (lambda 0.7, shortlist 15): corpus touched
    once for the rounded-cosine shortlist (WindowGroupLimit); the
    greedy selection loops over the persisted shortlist-pair table —
    see topk.mmr_rerank. Every score rounds before its argmax so the
    oracle replays the identical selection sequence."""
    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 3)
    return topk.mmr_rerank(c, q, k=5, shortlist=15, lam=0.7)


@query(oracle="""
            WITH rev AS (
              SELECT l_suppkey,
                     CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100.0 AS total_rev
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate < TIMESTAMP '1995-04-01'
              GROUP BY l_suppkey),
            mx AS (SELECT max(total_rev) AS m FROM rev)
            SELECT s_suppkey, s_name, total_rev
            FROM rev CROSS JOIN mx
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_rev = m
        """)
def q_top_supplier_revenue(spark, sf):
    """Q15-class: suppliers hitting the MAX quarterly revenue. The max
    is a 1-row aggregate broadcast back (scalar-subquery decorrelation);
    revenue rounds to 2 on both engines before the equality."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1995-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            _e4_to_2dp(F.sum(_rev_e4())).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("m"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("m"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(oracle="""
            WITH e AS (
              SELECT user_id, epoch_us(ts) // 21600000000 AS bucket, value
              FROM events),
            b AS (
              SELECT user_id, bucket, floor(avg(value) * 10000) / 10000 AS v
              FROM e GROUP BY user_id, bucket),
            span AS (
              SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
              FROM b GROUP BY user_id),
            grid AS (
              SELECT user_id, unnest(generate_series(lo, hi)) AS bucket
              FROM span),
            dense AS (
              SELECT g.user_id, g.bucket, b.v
              FROM grid g LEFT JOIN b
                ON b.user_id = g.user_id AND b.bucket = g.bucket),
            anch AS (
              SELECT user_id, bucket, v,
                     last_value(v IGNORE NULLS) OVER wb AS pv,
                     last_value(CASE WHEN v IS NOT NULL THEN bucket END
                       IGNORE NULLS) OVER wb AS pb,
                     first_value(v IGNORE NULLS) OVER wf AS nv,
                     first_value(CASE WHEN v IS NOT NULL THEN bucket END
                       IGNORE NULLS) OVER wf AS nb
              FROM dense
              WINDOW wb AS (PARTITION BY user_id ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wf AS (PARTITION BY user_id ORDER BY bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
            SELECT user_id, bucket * 21600000000 AS bucket_start,
                   v IS NOT NULL AS observed,
                   floor((CASE
                     WHEN v IS NOT NULL THEN v
                     WHEN pv IS NULL THEN nv
                     WHEN nv IS NULL THEN pv
                     ELSE pv + (nv - pv) * (bucket - pb)
                            / CAST(nb - pb AS DOUBLE)
                   END) * 10000.0 + 0.5) / 10000.0 AS value_interp
            FROM anch
        """)
def q_resample_interp(spark, sf):
    """Linear-interpolation resample onto a 6-hour grid per user —
    the companion of resample_locf; empty buckets get the
    distance-weighted blend of the surrounding observed buckets,
    edges clamp. Two shared-partition windows; see
    aggregates.resample_interpolate."""
    ev = _t(spark, sf, "events").select(
        "user_id", F.expr("ts div 1000").alias("tus"), "value"
    )
    return aggregates.resample_interpolate(
        ev, time_col="tus", by="user_id", value_col="value",
        step=21_600_000_000,
    )


# portable 60-bit md5 hash replay (same fold as dedup_simhash):
# h60(x) = base-16 fold of the top 15 hex chars of md5(x)
@query(oracle="""
            WITH corpus AS (
              SELECT text FROM documents WHERE doc_id % 2 = 0),
            cpos AS (
              SELECT list_reduce(list_transform(
                       string_split(substr(md5(CAST(i AS VARCHAR) || ':' || text), 1, 15), ''),
                       c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                       (a, b) -> a * 16 + b) % 16384 AS p
              FROM corpus, range(4) t(i)),
            bits AS (
              SELECT CAST(p // 32 AS INT) AS word_idx,
                     bit_or(CAST(2**(p % 32) AS BIGINT)) AS bits
              FROM cpos GROUP BY 1),
            pr AS (
              SELECT doc_id,
                     list_reduce(list_transform(
                       string_split(substr(md5(CAST(i AS VARCHAR) || ':' || text), 1, 15), ''),
                       c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                       (a, b) -> a * 16 + b) % 16384 AS p
              FROM documents, range(4) t(i)),
            j AS (
              SELECT doc_id,
                     (coalesce(bits, 0) & CAST(2**(p % 32) AS BIGINT)) <> 0
                       AS hit
              FROM pr LEFT JOIN bits
                ON CAST(p // 32 AS INT) = word_idx),
            bh AS (SELECT doc_id, bool_and(hit) AS bloom_hit
                   FROM j GROUP BY doc_id),
            ex AS (SELECT DISTINCT text FROM corpus)
            SELECT d.doc_id, bh.bloom_hit,
                   (ex.text IS NOT NULL) AS exact_hit
            FROM documents d
            JOIN bh USING (doc_id)
            LEFT JOIN ex ON d.text = ex.text
        """)
def q_bloom_screen(spark, sf):
    """Bloom-filter membership pre-screen (the cheap gate before an
    incremental-dedup anti-join): bitset built over the even-id half of
    the corpus as a partial-combinable bit_or aggregate, then every doc
    probed against the broadcast 512-row bitset. Emits bloom_hit next
    to exact_hit so the no-false-negative guarantee and the FPR are
    both visible. Portable 60-bit md5 positions; see
    operators/sketch.py."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    docs = _t(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select("text")
    bloom = sketch.bloom_build(corpus, "text")
    hits = sketch.bloom_probe(
        docs.select("doc_id", "text"), bloom, "text", "doc_id"
    )
    exact = corpus.distinct().withColumn("_ex", F.lit(True))
    return (
        docs.select("doc_id", "text")
        .join(hits, "doc_id")
        .join(exact, "text", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce(F.col("_ex"), F.lit(False)).alias("exact_hit"),
        )
    )


@query(oracle=r"""
            WITH toks AS (
              SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            t2 AS (SELECT tok FROM toks WHERE tok <> ''),
            cms AS (
              SELECT i AS row, p AS pos, count(*) AS n
              FROM (SELECT tok, i,
                      list_reduce(list_transform(
                        string_split(substr(md5(CAST(i AS VARCHAR) || ':' || tok), 1, 15), ''),
                        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                        (a, b) -> a * 16 + b) % 1024 AS p
                    FROM t2, range(4) t(i))
              GROUP BY i, p),
            top AS (
              SELECT tok, count(*) AS exact_n
              FROM t2 GROUP BY tok
              ORDER BY exact_n DESC, tok LIMIT 15),
            est AS (
              SELECT q.tok, min(coalesce(cms.n, 0)) AS est_n
              FROM (SELECT top.tok, i,
                      list_reduce(list_transform(
                        string_split(substr(md5(CAST(i AS VARCHAR) || ':' || top.tok), 1, 15), ''),
                        c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                        (a, b) -> a * 16 + b) % 1024 AS p
                    FROM top, range(4) t(i)) q
              LEFT JOIN cms ON cms.row = q.i AND cms.pos = q.p
              GROUP BY q.tok)
            SELECT top.tok, top.exact_n, est.est_n,
                   est.est_n >= top.exact_n AS no_underestimate
            FROM top JOIN est ON top.tok = est.tok
        """)
def q_cms_heavy_hitters(spark, sf):
    """Count-Min frequency estimates for the exact top-15 tokens: the
    sketch is one (row, pos) hash agg — constant-size, broadcast to the
    probe side; estimates are min-over-depth and can never
    underestimate (pinned in the output). See operators/sketch.py."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    cms = sketch.countmin_build(toks, "tok")
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "tok")
        .limit(15)
    )
    est = sketch.countmin_estimate(top.select("tok"), cms, "tok")
    return top.join(est, top["tok"] == est["elem"]).select(
        "tok",
        "exact_n",
        "est_n",
        (F.col("est_n") >= F.col("exact_n")).alias("no_underestimate"),
    )


@query(oracle="""
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   year(o_orderdate) AS trade_year,
                   -- round the EXACT decimal sum, THEN cast: the
                   -- double-cast-first order lands 1 ulp under .xx5
                   -- and rounds down (bit at sf0.1: 9090148.155)
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                     AS DOUBLE) AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE sn.n_name <> cn.n_name
              AND year(o_orderdate) IN (1994, 1995)
            GROUP BY supp_nation, cust_nation, trade_year
        """)
def q_nation_trade_volume(spark, sf):
    """Q7-class bi-nation trade: revenue between (supplier nation,
    customer nation) pairs per year. The nation dim joins TWICE (one
    broadcast per role); the fact chain lineitem⋈orders⋈customer stays
    shuffle-partitioned on its join keys and is never broadcast."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(sn), s["s_nationkey"] == F.col("sn_key"))
        .join(F.broadcast(cn), c["c_nationkey"] == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("o_orderdate").alias("trade_year"),
        )
        .agg(
            # prices/discounts are exact 2-dp values: summing in DECIMAL
            # is order-independent and exact, so the 2-dp result can't
            # flake on a .005 float-summation boundary across engines
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (
                        F.lit(1).cast("decimal(18,2)")
                        - F.col("l_discount").cast("decimal(18,2)")
                    )
                ).cast("double"),
                2,
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .filter(F.col("trade_year").isin(1994, 1995))
    )


@query(oracle=r"""
            WITH f AS (
              SELECT doc_id, source,
                     length(text) AS n_chars,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text),
                         '\b(the|a|of|and|to|in|is|it)\b')) AS n_stop
              FROM documents),
            g AS (
              SELECT doc_id, source, n_tokens,
                     CASE WHEN n_tokens > 0
                          THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens
                          ELSE 0.0 END AS mean_token_len,
                     CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars
                          ELSE 0.0 END AS punct_ratio,
                     CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens
                          ELSE 0.0 END AS stopword_ratio
              FROM f),
            s AS (
              SELECT doc_id, source, n_tokens AS n_tok,
                     round(least(stopword_ratio * 4, 1.0) * 0.4
                       + CASE WHEN mean_token_len BETWEEN 3 AND 10
                              THEN 0.4 ELSE 0.0 END
                       + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END,
                       4) AS q
              FROM g)
            SELECT source, doc_id, q, n_tok, cum_tok FROM (
              SELECT source, doc_id, q, n_tok,
                     CAST(sum(n_tok) OVER (PARTITION BY source
                       ORDER BY q DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_tok
              FROM s)
            WHERE cum_tok <= 3000
        """)
def q_budget_subset(spark, sf):
    """Token-budget corpus selection: per source, keep the
    highest-quality documents whose running token total stays within a
    3000-token budget — the curation step that turns 'rank by quality'
    into an actual training-set cut. One per-source window (sources are
    many at scale, so the sort is partitioned, never global); quality
    rounds before ranking so replays cut at the identical doc."""
    from pyspark.sql import Window

    docs = _t(spark, sf, "documents")
    scored = ta.quality_score(docs).select(
        "doc_id",
        "source",
        F.round("quality_score", 4).alias("q"),
        ta.token_count(F.col("text")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("q"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        scored.withColumn("cum_tok", F.sum("n_tok").over(w))
        .filter(F.col("cum_tok") <= 3000)
        .select("source", "doc_id", "q", "n_tok", "cum_tok")
    )


@query(oracle="""
            SELECT lang, doc_id, rk FROM (
              SELECT lang, doc_id,
                     CAST(row_number() OVER (PARTITION BY lang
                       ORDER BY md5('kpg:' || CAST(doc_id AS VARCHAR)),
                                doc_id) AS INT) AS rk
              FROM documents)
            WHERE rk <= 4
        """)
def q_sample_k_per_group(spark, sf):
    """Deterministic k-per-group sample: exactly min(k, |group|) docs
    per language, chosen by md5 rank — layout-invariant like the rest
    of the sampling family, and a per-group WindowGroupLimit (only k
    rows leave each partition)."""
    from pyspark.sql import Window

    docs = _t(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat_ws(":", F.lit("kpg"), F.col("doc_id"))), "doc_id"
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 4)
        .select("lang", "doc_id", "rk")
    )


# the stateful streaming flagger must emit the identical flag set
# to the batch trailing-window formulation — same oracle
@query(oracle_of="anomaly_zscore")
def q_t8_stream_anomaly(spark, sf):
    """T8 — streaming rolling z-score anomaly flags: per-user trailing
    window as bounded applyInPandasWithState state, availableNow
    micro-batches. Oracle = the batch window SQL (anomaly_zscore) —
    stream and batch must flag the identical row set."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_anomaly,
        table_stream,
    )

    stream = table_stream(spark, sf, "events")
    flags = stream_anomaly(stream, lookback=20, threshold=2.5)
    return drain_to_memory(flags, "t8_stream_anomaly_result", mode="append")


@query(oracle="""
            WITH rev AS (
              SELECT o_custkey,
                     round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (1 - CAST(l_discount AS DECIMAL(18,2))))
                       AS DOUBLE), 2) AS revenue
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R'
              GROUP BY o_custkey)
            SELECT c_custkey, c_name, n_name AS nation, revenue
            FROM rev
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """)
def q_returned_revenue(spark, sf):
    """Q10-class: top-20 customers by revenue on RETURNED lineitems.
    The return-flag filter pushes to the lineitem scan; customer and
    nation join after the revenue agg (agg first, join the small result
    — not the other way around); top-20 is TakeOrderedAndProject.
    DECIMAL-exact revenue sums."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    rev = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (
                        F.lit(1).cast("decimal(18,2)")
                        - F.col("l_discount").cast("decimal(18,2)")
                    )
                ).cast("double"),
                2,
            ).alias("revenue")
        )
    )
    return (
        rev.join(c, rev["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"), "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(oracle="""
            WITH big AS (
              SELECT l_orderkey, round(sum(l_quantity), 1) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING round(sum(l_quantity), 1) > 140)
            SELECT c_custkey, c_name, o_orderkey, o_totalprice, total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """)
def q_large_volume_orders(spark, sf):
    """Q18-class: orders whose total quantity exceeds a threshold,
    with their customer. HAVING on the agg first (the qualifying set is
    tiny), THEN the join back — never the join-then-filter order that
    shuffles the whole fact table twice."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 1).alias("total_qty"))
        .filter(F.col("total_qty") > 140)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


@query(oracle="""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 1) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) + 50) // 100 AS DOUBLE) / 100.0 AS sum_disc_price,
                   CAST((sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) * (100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT))) + 5000) // 10000 AS DOUBLE) / 100.0 AS sum_charge,
                   floor(CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT))
                              AS DOUBLE) * 10000 / count(*)) / 1e4 + 0.0
                     AS avg_qty,
                   floor(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5)
                                       AS BIGINT)) AS DOUBLE) * 100
                         / count(*)) / 1e4 + 0.0 AS avg_price,
                   floor(CAST(sum(CAST(floor(l_discount * 100 + 0.5)
                                       AS BIGINT)) AS DOUBLE) * 10000
                         / count(*)) / 1e6 + 0.0 AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-08-01'
            GROUP BY l_returnflag, l_linestatus
        """)
def q_pricing_summary(spark, sf):
    """TPC-H Q1 class — the canonical full-scan pricing report: one
    groupBy over the fact table, every aggregate partial-combinable
    (sum/avg/count fold map-side), grouping key cardinality 6. At 100 TB
    this is the best-case shape: scan + map-side combine + 6-row
    exchange."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "2001-08-01")
    # disc price / charge are 4-dp / 6-dp-grid exact products — summed
    # as exact integers (the _rev_e4 catch); base price / qty sums sit
    # ON their own output grid so plain round cannot split
    charge_e6 = (
        _cents(F.col("l_extendedprice"))
        * (F.lit(100) - _cents(F.col("l_discount")))
        * (F.lit(100) + _cents(F.col("l_tax")))
    ).cast("decimal(38,0)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 1).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        _e4_to_2dp(F.sum(_rev_e4())).alias("sum_disc_price"),
        _e4_to_2dp(F.sum(charge_e6), unit=10000).alias("sum_charge"),
        # exact-grid means (r9 port): quantity is integer-valued,
        # price 2-dp, discount 2-dp — round(avg) lands ON the output
        # grids' half-up boundaries and is summation-order-dependent
        (
            F.floor(
                F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)))
                .cast("double")
                * 10000
                / F.count(F.lit(1))
            )
            / 1e4
            + 0.0
        ).alias("avg_qty"),
        (
            F.floor(
                F.sum(_cents(F.col("l_extendedprice"))).cast("double")
                * 100
                / F.count(F.lit(1))
            )
            / 1e4
            + 0.0
        ).alias("avg_price"),
        (
            F.floor(
                F.sum(_cents(F.col("l_discount"))).cast("double")
                * 10000
                / F.count(F.lit(1))
            )
            / 1e6
            + 0.0
        ).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(oracle="""
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE year(l_shipdate) = 1996
              AND l_discount BETWEEN 0.02 AND 0.06
              AND l_quantity < 24
        """)
def q_forecast_revenue(spark, sf):
    """TPC-H Q6 class — revenue-change forecast: tight range predicates
    on three columns, no join, single scalar out. All three predicates
    push to the parquet scan; the agg is a map-side fold."""
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.year("l_shipdate") == 1996)
            & F.col("l_discount").between(0.02, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue")
        )
    )


@query(oracle="""
            SELECT year(o_orderdate) AS o_year,
                   round(sum(CASE WHEN sn.n_name = 'NATION_2'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            GROUP BY year(o_orderdate)
        """)
def q_market_share(spark, sf):
    """TPC-H Q8 class — national market share: NATION_2's slice of
    STANDARD-part revenue sold to ASIA customers, per order year. The
    nation/region dims join twice (customer side and supplier side) —
    both broadcast; the conditional numerator folds into the same
    partial agg as the denominator (one pass, no second join)."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    cn = n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
        F.col("n_nationkey").alias("c_nkey")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    p = _t(spark, sf, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(cn, c["c_nationkey"] == F.col("c_nkey"))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(sn, s["s_nationkey"] == F.col("s_nkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_2", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("mkt_share")
        )
    )


@query(oracle="""
            SELECT sn.n_name AS nation, year(o_orderdate) AS o_year,
                   CASE WHEN sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) - 800 * CAST(floor(p_retailprice * 10 + 0.5) AS BIGINT) * CAST(l_quantity AS BIGINT)) >= 0 THEN 1.0 ELSE -1.0 END
                   * (CAST((abs(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) - 800 * CAST(floor(p_retailprice * 10 + 0.5) AS BIGINT) * CAST(l_quantity AS BIGINT))) + 50) // 100 AS DOUBLE) / 100.0)
                   + 0.0 AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            GROUP BY sn.n_name, year(o_orderdate)
        """)
def q_product_profit(spark, sf):
    """TPC-H Q9 class — product-line profit by supplier nation and
    order year for 'red' parts. No partsupp table in this schema, so
    supply cost is the deterministic proxy 0.8 * p_retailprice *
    l_quantity (documented; the oracle uses the identical formula).
    Part/supplier/nation dims broadcast; one shuffle for the agg."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    p = (
        _t(spark, sf, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    # profit in exact 1e-4 units: rev_e4 - 0.8*retail*qty where
    # retail is 1-dp (deci-units d: 0.8*d/10*qty = 800*d*qty in e4);
    # quantities are integral doubles
    profit_e4 = _rev_e4() - (
        F.lit(800)
        * _cents(F.col("p_retailprice"), 10)
        * F.col("l_quantity").cast("long")
    ).cast("decimal(38,0)")
    j = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            # signed half-up: sign * ((|s|+50) // 100) / 100 — the
            # BigDecimal HALF_UP convention, from exact integers; the
            # magnitude half-up runs entirely in integer arithmetic
            # (_e4_to_2dp) so it never commutes through a double
            (
                F.signum(F.sum(profit_e4).cast("double"))
                * _e4_to_2dp(F.abs(F.sum(profit_e4)))
                + 0.0
            ).alias("profit")
        )
    )


@query(oracle="""
            SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                       CAST(l_shipdate AS DATE)) > 60
                        THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE year(l_shipdate) = 1997
            GROUP BY 1
        """)
def q_shiplag_priority(spark, sf):
    """TPC-H Q12 class — ship-mode priority matrix, adapted to this
    schema (no l_shipmode): lines bucket into SLOW/FAST by
    order-to-ship lag, counting critical (1-URGENT/2-HIGH) vs other
    priorities per bucket for 1997 shipments. CASE counts fold into one
    partial agg; dates compared as DATE on both engines."""
    li = _t(spark, sf, "lineitem").filter(F.year("l_shipdate") == 1997)
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    lag = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    bucket = F.when(lag > 60, F.lit("SLOW")).otherwise(F.lit("FAST"))
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(bucket.alias("ship_bucket")).agg(
        F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
    )


@query(oracle="""
            WITH cnt AS (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
                         WHERE o_orderpriority <> '4-NOT SPECIFIED') o
                ON c_custkey = o.o_custkey
              GROUP BY c_custkey)
            SELECT c_count, count(*) AS custdist FROM cnt GROUP BY c_count
        """)
def q_customer_distribution(spark, sf):
    """TPC-H Q13 class — customer order-count distribution: LEFT join
    so zero-order customers keep a 0 bucket, then a second agg over the
    counts. Two shuffles by construction (custkey, then c_count); the
    second exchange carries one row per distinct count."""
    c = _t(spark, sf, "customer").select("c_custkey")
    o = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_custkey", "o_orderkey")
    )
    cnt = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return cnt.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(oracle="""
            WITH supply AS (
              SELECT l_partkey, l_suppkey,
                     floor(min(l_extendedprice / l_quantity) * 10000)
                       / 10000 AS unit_cost
              FROM lineitem GROUP BY l_partkey, l_suppkey),
            sx AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
            cand AS (
              SELECT p.p_partkey, sx.s_suppkey, sx.s_name, sx.s_acctbal,
                     sx.n_name, supply.unit_cost
              FROM supply
              JOIN part p ON supply.l_partkey = p.p_partkey
                AND p.p_size = 15 AND p.p_type = 'STANDARD'
              JOIN sx ON supply.l_suppkey = sx.s_suppkey),
            minc AS (
              SELECT p_partkey, min(unit_cost) AS min_cost
              FROM cand GROUP BY p_partkey)
            SELECT cand.p_partkey, s_suppkey, s_name, n_name AS nation,
                   round(s_acctbal, 2) AS s_acctbal, unit_cost
            FROM cand
            JOIN minc ON cand.p_partkey = minc.p_partkey
              AND cand.unit_cost = minc.min_cost
        """)
def q_min_cost_supplier(spark, sf):
    """TPC-H Q2 class — min-cost supplier per part within a region. No
    partsupp table: the supply relation derives from lineitem as
    groupBy(part, supp) -> min unit price, FLOOR-quantized to 4 dp
    BEFORE the min-join so the equality key is the identical double on
    both engines (engine round() functions disagree when a quotient
    lands within an ulp of a .00005 boundary — observed at sf0.001;
    floor is tie-free). Ties keep all suppliers, as in the spec. Dims
    broadcast; the min-cost self-join is on the small qualifying
    subset, not the fact table."""
    li = _t(spark, sf, "lineitem")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.floor(
                F.min(F.col("l_extendedprice") / F.col("l_quantity")) * 10000
            )
            / 10000
        ).alias("unit_cost")
    )
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    sx = (
        s.join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    px = (
        _t(spark, sf, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    cand = supply.join(px, supply["l_partkey"] == px["p_partkey"]).join(
        sx, supply["l_suppkey"] == sx["s_suppkey"]
    )
    minc = cand.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        cand.join(
            minc,
            (cand["p_partkey"] == minc["m_partkey"])
            & (cand["unit_cost"] == minc["min_cost"]),
        )
        .select(
            cand["p_partkey"].alias("p_partkey"),
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "unit_cost",
        )
    )


@query(oracle="""
            WITH supplied AS (
              SELECT l.l_partkey, l.l_extendedprice
              FROM lineitem l
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              WHERE n.n_name IN ('NATION_3', 'NATION_8'))
            SELECT l_partkey AS p_key,
                   round(sum(l_extendedprice), 2) AS part_value
            FROM supplied
            GROUP BY l_partkey
            HAVING sum(l_extendedprice) > (
              SELECT 0.0012 * sum(l_extendedprice) FROM supplied)
        """)
def q_important_parts(spark, sf):
    """TPC-H Q11 class — important-stock scan: per-part supplied value
    from two nations' suppliers, kept only when it exceeds a fraction
    of the total (scalar subquery). Written as declarative SQL so
    Catalyst plans the total as a one-row broadcast against the
    grouped set — no second scan of the filtered join output."""
    _t(spark, sf, "lineitem").createOrReplaceTempView("li_q11")
    _t(spark, sf, "supplier").createOrReplaceTempView("s_q11")
    _t(spark, sf, "nation").createOrReplaceTempView("n_q11")
    return spark.sql("""
        WITH supplied AS (
          SELECT l.l_partkey, l.l_extendedprice
          FROM li_q11 l
          JOIN s_q11 s ON l.l_suppkey = s.s_suppkey
          JOIN n_q11 n ON s.s_nationkey = n.n_nationkey
          WHERE n.n_name IN ('NATION_3', 'NATION_8')
        )
        SELECT l_partkey AS p_key,
               round(sum(l_extendedprice), 2) AS part_value
        FROM supplied
        GROUP BY l_partkey
        HAVING sum(l_extendedprice) > (
          SELECT 0.0012 * sum(l_extendedprice) FROM supplied)
    """)


@query(oracle="""
            WITH pairs AS (
              SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM pairs
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
              AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
              AND l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type, p_size
        """)
def q_supplier_part_attrs(spark, sf):
    """TPC-H Q16 class — supplier counts by part attributes: distinct
    (part, supplier) pairs from lineitem, anti-joined against
    'complaint' suppliers (negative balance), counted per
    brand/type/size. The distinct and countDistinct both partial-
    aggregate; the anti side is a broadcast."""
    pairs = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = (
        _t(spark, sf, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    px = _t(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45)
    )
    return (
        pairs.join(px, pairs["l_partkey"] == px["p_partkey"])
        .join(bad, pairs["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(oracle="""
            WITH q97 AS (
              SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_name LIKE '%blue%'
              WHERE year(l_shipdate) = 1997
              GROUP BY l_partkey, l_suppkey),
            tot AS (
              SELECT l_partkey, sum(supp_qty) AS part_qty
              FROM q97 GROUP BY l_partkey),
            keep AS (
              SELECT DISTINCT q97.l_suppkey
              FROM q97 JOIN tot ON q97.l_partkey = tot.l_partkey
              WHERE supp_qty > 0.3 * part_qty)
            SELECT s_suppkey, s_name, n_name AS nation
            FROM supplier
            JOIN keep ON s_suppkey = keep.l_suppkey
            JOIN nation ON s_nationkey = n_nationkey
        """)
def q_excess_suppliers(spark, sf):
    """TPC-H Q20 class — suppliers holding an outsized share of a part
    family: per (supplier, part) 1997 shipped quantity of 'blue' parts
    vs 30% of the part's total (threshold is fractional, quantities
    integral — no boundary-tie risk). Qualifying pairs semi-join back
    to the supplier dim."""
    li = _t(spark, sf, "lineitem").filter(F.year("l_shipdate") == 1997)
    p = (
        _t(spark, sf, "part")
        .filter(F.col("p_name").like("%blue%"))
        .select("p_partkey")
    )
    q97 = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("supp_qty"))
    )
    tot = q97.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("supp_qty").alias("part_qty")
    )
    excess = q97.join(tot, q97["l_partkey"] == tot["t_partkey"]).filter(
        F.col("supp_qty") > 0.3 * F.col("part_qty")
    )
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    return (
        s.join(excess.select("l_suppkey").distinct(), s["s_suppkey"] == F.col("l_suppkey"), "left_semi")
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"))
    )


@query(oracle="""
            WITH counts AS (
              SELECT source, count(*) AS n_g FROM documents GROUP BY source),
            tot AS (
              SELECT sum(n_g) AS n_total, sum(pow(n_g, 0.5)) AS z FROM counts),
            rates AS (
              SELECT source,
                     round(least(1.0, 0.5 * n_total * pow(n_g, 0.5) / z / n_g), 6)
                       AS keep_rate
              FROM counts, tot),
            b AS (
              SELECT d.doc_id, d.source, r.keep_rate,
                     (strpos('0123456789abcdef',
                        substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
                     + (strpos('0123456789abcdef',
                        substr(md5(CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1) * 256
                     + (strpos('0123456789abcdef',
                        substr(md5(CAST(d.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
                     + (strpos('0123456789abcdef',
                        substr(md5(CAST(d.doc_id AS VARCHAR)), 4, 1)) - 1) AS bucket
              FROM documents d JOIN rates r USING (source))
            SELECT doc_id, source, keep_rate
            FROM b WHERE bucket < keep_rate * 65536
        """)
def q_temperature_resample(spark, sf):
    """Temperature-flattened mixture resampling (alpha=0.5, budget half
    the corpus): small sources up-weighted toward n^alpha shares, rows
    kept by the deterministic md5 bucket. Two tiny aggs + broadcast
    rate join — the per-row path is narrow."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    return curation.temperature_resample(docs, alpha=0.5, budget_frac=0.5)


@query(oracle=r"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text),
                         '\b(the|a|of|and|to|in|is|it)\b')) AS n_stop,
                     len(regexp_extract_all(text, '[A-Z]')) AS n_upper
              FROM documents),
            g AS (
              SELECT doc_id,
                     round(CASE WHEN n_tokens > 0
                           THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens
                           ELSE 0.0 END, 6) AS mean_token_len,
                     round(CASE WHEN n_chars > 0
                           THEN n_punct * 1.0 / n_chars ELSE 0.0 END, 6)
                       AS punct_ratio,
                     round(CASE WHEN n_tokens > 0
                           THEN n_stop * 1.0 / n_tokens ELSE 0.0 END, 6)
                       AS stopword_ratio,
                     round(CASE WHEN n_chars > 0
                           THEN n_upper * 1.0 / n_chars ELSE 0.0 END, 6)
                       AS upper_ratio,
                     round(ln(1.0 + n_tokens), 6) AS log1p_tokens
              FROM f),
            z AS (
              SELECT doc_id,
                     round(-2.2 + 3.2 * stopword_ratio + -6.0 * punct_ratio
                           + -2.5 * upper_ratio + 0.15 * mean_token_len
                           + 0.35 * log1p_tokens, 8) AS z
              FROM g)
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-z)), 6) AS quality_prob,
                   round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
            FROM z
        """)
def q_quality_logreg(spark, sf):
    """Learned-quality-filter serving shape: engineered features → a
    fixed-weight logistic model applied as one narrow codegen
    projection (weights are literals; no shuffle, no Python). Features
    and logit round before the sigmoid so the keep boundary is
    engine-stable."""
    docs = _t(spark, sf, "documents")
    out = ta.quality_logreg(docs)
    return out.select("doc_id", "quality_prob", "keep")


@query(oracle=r"""
            WITH w AS (
              SELECT doc_id,
                     string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w) - 4, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                            || w[i+3] || ' ' || w[i+4]))) AS s
              FROM w),
            dfh AS (SELECT s, count(*) AS gdf FROM sh GROUP BY s),
            per AS (
              SELECT doc_id, count(*) AS n_grams,
                     CAST(sum(CASE WHEN gdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_unique
              FROM sh JOIN dfh USING (s) GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(n_grams, 0) AS n_grams,
                   coalesce(n_unique, 0) AS n_unique,
                   CASE WHEN coalesce(n_grams, 0) > 0
                        THEN round(n_unique * 1.0 / n_grams, 6)
                        ELSE 0.0 END AS novelty
            FROM documents d LEFT JOIN per USING (doc_id)
        """)
def q_ngram_novelty(spark, sf):
    """Per-document 5-gram novelty (share of the doc's shingles that
    exist nowhere else) — inverted-index join on shingle hashes, the
    dedup-family shape; zero-shingle docs kept with novelty 0."""
    docs = _t(spark, sf, "documents")
    return ta.ngram_novelty(docs, n=5)


@query(oracle=r"""
            WITH w AS (
              SELECT doc_id AS id,
                     string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            toks AS (
              SELECT id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w)-2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
              FROM w),
            rare AS (
              SELECT tok FROM toks GROUP BY tok
              HAVING count(*) BETWEEN 2 AND 3),
            post AS (SELECT id, tok FROM toks JOIN rare USING (tok)),
            e AS (
              SELECT DISTINCT a.id AS a, b.id AS b
              FROM post a JOIN post b ON a.tok = b.tok AND a.id < b.id),
            tri AS (
              SELECT count(*) AS t
              FROM e e1
              JOIN e e2 ON e1.b = e2.a
              JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
            deg AS (
              SELECT node, count(*) AS d
              FROM (SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
              GROUP BY node)
            SELECT count(*) AS n_nodes,
                   CAST(sum(d) / 2 AS BIGINT) AS n_edges,
                   CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
                   (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles,
                   CASE WHEN sum(d * (d - 1) / 2) > 0
                        THEN round(3.0 * (SELECT t FROM tri)
                                   / sum(d * (d - 1) / 2), 6)
                        ELSE 0.0 END AS global_cc
            FROM deg
        """)
def q_graph_triangles(spark, sf):
    """Triangle census + global clustering coefficient of the
    shared-rare-token document graph. Ordered-adjacency plan: edges
    stored once as a<b, so each triangle matches exactly one
    e1⋈e2⋈e3 path — two equi-joins, no orientation dedup; wedges come
    from one degree agg. DF-capped posting lists bound the fan-out."""
    from pdf_to_vectordb_etl_spark.operators import graph

    docs = _t(spark, sf, "documents")
    edges = graph.shared_token_edges(docs, min_df=2, max_df=3)
    return graph.triangle_stats(edges)


def _hyperball_oracle_sql(rounds: int = 3) -> str:
    """DuckDB twin of graph_hyperball: the shared-rare-token edge CTEs
    (verbatim from the label_spread oracle), the portable HLL register
    init (the hll_distinct oracle's md5-hex bucket/rho idiom), then
    ``rounds`` unrolled MATERIALIZED register-max rounds, each followed
    by the per-node estimate finale with the 1e-6 floor BEFORE the
    exact-integer corpus sum."""
    prelude = r"""
        WITH w AS (
          SELECT doc_id AS id,
                 string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                              ' ') AS w
          FROM documents),
        toks AS (
          SELECT id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(w)-2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
          FROM w),
        rare AS (
          SELECT tok FROM toks GROUP BY tok
          HAVING count(*) BETWEEN 2 AND 3),
        post AS (SELECT id, tok FROM toks JOIN rare USING (tok)),
        e AS (
          SELECT DISTINCT a.id AS a, b.id AS b
          FROM post a JOIN post b ON a.tok = b.tok AND a.id < b.id),
        adj AS MATERIALIZED (
          SELECT a AS src, b AS dst FROM e
          UNION ALL SELECT b AS src, a AS dst FROM e),
        nodes AS (SELECT DISTINCT src AS node FROM adj),
        h0 AS (SELECT node, md5(CAST(node AS VARCHAR)) AS hx FROM nodes),
        p0 AS (
          SELECT node,
                 (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket,
                 length(regexp_extract(substr(hx, 3, 12), '^0*')) AS z,
                 substr(substr(hx, 3, 12),
                        length(regexp_extract(substr(hx, 3, 12), '^0*')) + 1, 1)
                   AS nib
          FROM h0),
        regs0 AS MATERIALIZED (
          SELECT node, bucket,
                 CASE WHEN z = 12 THEN 49
                      ELSE z * 4
                           + CASE WHEN nib = '1' THEN 3
                                  WHEN nib IN ('2', '3') THEN 2
                                  WHEN nib IN ('4', '5', '6', '7') THEN 1
                                  ELSE 0 END
                           + 1 END AS r
          FROM p0)"""

    def est_cte(t: int) -> str:
        return f""",
est{t} AS (
  SELECT {t} AS t, CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(coalesce(sum(nf), 0) AS BIGINT) AS nf_q6
  FROM (
    SELECT node,
           floor(CASE WHEN raw <= 640 AND v > 0
                      THEN 256 * ln(256.0 / v) ELSE raw END * 1e6) AS nf
    FROM (
      SELECT node,
             (0.7213 / (1 + 1.079 / 256)) * 256 * 256
               / (s + (256 - np)) AS raw,
             256 - np AS v
      FROM (SELECT node, sum(pow(2.0, -r)) AS s, count(*) AS np
            FROM regs{t} GROUP BY node))))"""

    parts = [prelude, est_cte(0)]
    for t in range(1, rounds + 1):
        parts.append(f""",
regs{t} AS MATERIALIZED (
  SELECT node, bucket, max(r) AS r
  FROM (SELECT * FROM regs{t - 1}
        UNION ALL
        SELECT a.src AS node, r.bucket, r.r
        FROM adj a JOIN regs{t - 1} r ON r.node = a.dst)
  GROUP BY node, bucket)""")
        parts.append(est_cte(t))
    union = "\nUNION ALL\n".join(
        f"SELECT CAST(t AS INT) AS t, n_nodes, nf_q6 FROM est{t}"
        for t in range(rounds + 1)
    )
    parts.append("\n" + union + "\nORDER BY t")
    return "".join(parts)

@query(oracle=_hyperball_oracle_sql(3))
def q_graph_hyperball(spark, sf):
    """HyperBall neighborhood function N(t), t = 0..3, of the
    shared-rare-token document graph (Boldi & Vigna 2013 — the
    4-degrees-of-separation algorithm): per-node 256-register HLL
    balls, each round one edges⋈registers join + (node, bucket)
    max-agg; exact per-node BFS would be O(n·m). Registers are the
    engine's portable md5-hex layout, so the oracle replays every
    register of every round; per-node estimates floor-quantize at 1e-6
    BEFORE the corpus sum (exact integer N(t), no float-sum order
    dice)."""
    from pdf_to_vectordb_etl_spark.operators import graph

    docs = _t(spark, sf, "documents")
    edges = graph.shared_token_edges(docs, min_df=2, max_df=3)
    return graph.hyperball_neighborhood(edges, rounds=3).orderBy("t")


@query(oracle="""
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            x AS (
              SELECT vec_id, unnest(generate_series(1, len(v))) AS dim,
                     unnest(v) AS x
              FROM e),
            xq AS (
              SELECT dim, q, CAST(q AS HUGEINT) * q AS qq
              FROM (SELECT dim, CAST(floor(x * 1000000) AS BIGINT) AS q
                    FROM x)),
            st AS (
              SELECT dim,
                     floor(CAST(sum(q) AS DOUBLE) / count(*)) / 1e6 + 0.0
                       AS m,
                     floor(sqrt(greatest(
                         CAST(sum(qq) AS DOUBLE) / count(*) / 1e12
                         - pow(CAST(sum(q) AS DOUBLE) / count(*) / 1e6,
                               2),
                         0.0)) * 1000000) / 1e6 + 0.0 AS s
              FROM xq GROUP BY dim),
            arr AS (
              SELECT list(m ORDER BY dim) AS ms,
                     list(CASE WHEN s > 0 THEN s ELSE 1.0 END ORDER BY dim) AS ss
              FROM st),
            z AS (
              SELECT vec_id,
                     list_transform(generate_series(1, len(v)),
                                    i -> round((v[i] - ms[i]) / ss[i], 4) + 0.0) AS z
              FROM e, arr)
            SELECT vec_id, z,
                   round(sqrt(list_aggregate(
                     list_transform(z, zz -> zz * zz), 'sum')), 4) AS z_norm
            FROM z
        """)
def q_embedding_whiten(spark, sf):
    """Per-dimension whitening of the embeddings table: ONE hash agg
    produces all 2·dim partial-combinable power sums (no explode — a
    dim-cardinality shuffle would have only 64 reduce groups), stats
    re-enter as broadcast literals, and the standardization runs as a
    narrow transform() per row."""
    from pdf_to_vectordb_etl_spark.operators import embedding as emb_ops

    emb = _t(spark, sf, "embeddings")
    return emb_ops.whiten(emb, dim=64)


@query(oracle=r"""
            WITH t AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
              FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents)
            SELECT doc_id,
                   CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum')
                     AS BIGINT) AS sum_len,
                   len(list_filter(t, x -> length(x) > 4)) AS n_long,
                   coalesce(list_aggregate(list_transform(t,
                     x -> regexp_matches(x, '^[0-9]+$')), 'bool_or'), FALSE)
                     AS has_number,
                   coalesce(list_aggregate(list_transform(t,
                     x -> length(x) < 20), 'bool_and'), TRUE) AS all_short,
                   list_aggregate(list_transform(t, x -> length(x)), 'max')
                     AS max_len,
                   CAST(list_aggregate(list_transform(
                     generate_series(1, len(t)),
                     i -> CASE WHEN t[i] = t[len(t) - i + 1] THEN 1 ELSE 0 END),
                     'sum') AS BIGINT) AS n_sym
            FROM t
        """)
def q_lambda_surface(spark, sf):
    """Higher-order-function surface: transform / aggregate / filter /
    exists / forall / zip_with lambdas over the token array, all scalar
    outputs — the collection lambda algebra stays entirely inside
    whole-stage codegen."""
    d = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    toks = F.split(F.lower(F.col("text")), r"\s+")
    lens = F.transform(toks, lambda x: F.length(x))
    sym = F.zip_with(
        toks,
        F.reverse(toks),
        lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
    )
    return d.select(
        "doc_id",
        F.aggregate(lens, F.lit(0), lambda acc, x: acc + x)
        .cast("long")
        .alias("sum_len"),
        F.size(F.filter(toks, lambda x: F.length(x) > 4)).alias("n_long"),
        F.exists(toks, lambda x: x.rlike("^[0-9]+$")).alias("has_number"),
        F.forall(toks, lambda x: F.length(x) < 20).alias("all_short"),
        F.array_max(lens).alias("max_len"),
        F.aggregate(sym, F.lit(0), lambda acc, x: acc + x)
        .cast("long")
        .alias("n_sym"),
    )


@query(oracle=r"""
            WITH t AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
              FROM documents),
            k AS (SELECT doc_id, t, list_distinct(t[1:4]) AS ks FROM t)
            SELECT doc_id,
                   len(ks) AS n_keys,
                   length(t[1]) AS first_tok_len,
                   list_aggregate(list_sort(ks), 'string_agg', '|') AS keys_sorted,
                   len(list_filter(ks, x -> length(x) > 3)) AS n_long_keys,
                   CAST(2 * list_aggregate(list_transform(ks, x -> length(x)),
                     'sum') AS BIGINT) AS sum_doubled,
                   list_contains(ks, 'the') AS has_the
            FROM k
        """)
def q_map_surface(spark, sf):
    """Map-function surface: map_from_arrays / size / element_at /
    map_keys / map_filter / transform_values / map_contains_key over a
    per-doc token→length map, scalar outputs. The oracle derives the
    identical scalars from the distinct-key list (DuckDB's MAP algebra
    differs, the VALUES are the contract)."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    keys = F.array_distinct(F.slice(toks, 1, 4))
    m = F.map_from_arrays(keys, F.transform(keys, lambda x: F.length(x)))
    doubled = F.transform_values(m, lambda k, v: v * 2)
    return d.select(
        "doc_id",
        F.size(m).alias("n_keys"),
        F.element_at(m, F.element_at(toks, 1)).alias("first_tok_len"),
        F.array_join(F.array_sort(F.map_keys(m)), "|").alias("keys_sorted"),
        F.size(F.map_filter(m, lambda k, v: v > 3)).alias("n_long_keys"),
        F.aggregate(F.map_values(doubled), F.lit(0), lambda acc, x: acc + x)
        .cast("long")
        .alias("sum_doubled"),
        F.map_contains_key(m, "the").alias("has_the"),
    )


@query(oracle=r"""
            WITH toks AS (
              SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            h AS (
              SELECT source, md5(tok) AS hx FROM toks),
            parts AS (
              SELECT source,
                     (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket,
                     length(regexp_extract(substr(hx, 3, 12), '^0*')) AS z,
                     substr(substr(hx, 3, 12),
                            length(regexp_extract(substr(hx, 3, 12), '^0*')) + 1, 1)
                       AS nib
              FROM h),
            rho AS (
              SELECT source, bucket,
                     CASE WHEN z = 12 THEN 49
                          ELSE z * 4
                               + CASE WHEN nib = '1' THEN 3
                                      WHEN nib IN ('2', '3') THEN 2
                                      WHEN nib IN ('4', '5', '6', '7') THEN 1
                                      ELSE 0 END
                               + 1 END AS rho
              FROM parts),
            regs AS (
              SELECT source, bucket, max(rho) AS r
              FROM rho GROUP BY source, bucket),
            agg AS (
              SELECT source, sum(pow(2.0, -r)) AS s,
                     count(*) AS np
              FROM regs GROUP BY source),
            est AS (
              SELECT source,
                     (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                       / (s + (256 - np)) AS raw,
                     256 - np AS v
              FROM agg),
            final AS (
              SELECT source,
                     round(CASE WHEN raw <= 2.5 * 256 AND v > 0
                                THEN 256.0 * ln(256.0 / v)
                                ELSE raw END, 4) AS hll_estimate
              FROM est),
            exact AS (
              SELECT source, count(DISTINCT tok) AS n_exact FROM toks
              GROUP BY source)
            SELECT exact.source, n_exact, hll_estimate,
                   round(abs(hll_estimate - n_exact) * 1.0 / n_exact, 4) AS rel_err
            FROM exact JOIN final USING (source)
        """)
def q_hll_distinct(spark, sf):
    """Portable HyperLogLog distinct-token estimate per source vs the
    exact count. The register file is one partial-combinable max-agg
    (256 registers/group) built on pure hex-string math — md5 bucket +
    leading-zero-nibble rho, no float log2 — so DuckDB reproduces every
    register bit and the estimate to the rounding digit. At 100 TB the
    exact branch is the expensive one (countDistinct shuffles tokens);
    the sketch branch ships 256 longs per group."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    )
    est = sketch.hll_estimate(toks, "tok", by="source")
    exact = toks.groupBy("source").agg(
        F.countDistinct("tok").alias("n_exact")
    )
    return (
        exact.join(est, "source")
        .select(
            "source",
            "n_exact",
            "hll_estimate",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"),
                4,
            ).alias("rel_err"),
        )
    )


@query(oracle="""
            SELECT user_id, count(*) AS n_events,
                   round(regr_slope(value,
                     (epoch_us(ts) - 1735689600000000) / 86400000000.0), 5)
                     AS slope,
                   round(regr_intercept(value,
                     (epoch_us(ts) - 1735689600000000) / 86400000000.0), 4)
                     AS intercept,
                   round(regr_r2(value,
                     (epoch_us(ts) - 1735689600000000) / 86400000000.0), 5) AS r2
            FROM events
            GROUP BY user_id
            HAVING count(*) >= 20
        """)
def q_trend_per_user(spark, sf):
    """Per-key OLS trend: slope / intercept / R² of value over time for
    every active user, via the native regr_* aggregates (one
    partial-combinable agg, no window, no per-key fit loop). Time
    re-zeroes to days since 2025-01-01 BEFORE aggregation — regressing
    on raw epoch microseconds cancels catastrophically in the
    covariance sums at any scale."""
    ev = _t(spark, sf, "events")
    x = (F.expr("ts div 1000") - F.lit(1_735_689_600_000_000)) / F.lit(
        86_400_000_000.0
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.regr_slope(F.col("value"), x), 5).alias("slope"),
            F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
            F.round(F.regr_r2(F.col("value"), x), 5).alias("r2"),
        )
        .filter(F.col("n_events") >= 20)
    )


def _kcenter_oracle_sql(k: int = 8, start_id: int = 0) -> str:
    """Full DuckDB replay of the greedy k-center selection: one CTE
    block per round — min rounded cosine distance to the selected set,
    argmax with id tiebreak — the same unrolled-iteration pattern as
    the MMR / PageRank / IVF-PQ oracles."""
    blocks = []
    prev = "sel1"
    for r in range(2, k + 1):
        # MATERIALIZED: without it DuckDB inlines each sel{r} chain into
        # every reference, re-executing the whole greedy prefix per round
        # (measured 40 s -> ~2 s at sf0.01)
        blocks.append(f"""
            d{r} AS MATERIALIZED (
              SELECT c.id,
                     min(round(1.0 - round(list_cosine_similarity(c.v, sv.v), 6), 6))
                       AS d
              FROM e c
              JOIN e sv ON sv.id IN (SELECT id FROM {prev})
              WHERE c.id NOT IN (SELECT id FROM {prev})
              GROUP BY c.id),
            s{r} AS MATERIALIZED (
              SELECT {r} AS sel_rank, id, d AS min_dist FROM d{r}
              QUALIFY row_number() OVER (ORDER BY d DESC, id) = 1),
            sel{r} AS MATERIALIZED (
              SELECT * FROM {prev} UNION ALL SELECT * FROM s{r})""")
        prev = f"sel{r}"
    return f"""
            WITH e AS (
              SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
            sel1 AS (
              SELECT 1 AS sel_rank, id, 0.0 AS min_dist FROM e
              WHERE id = {start_id}),{",".join(blocks)}
            SELECT sel_rank, id AS vec_id, round(min_dist, 6) AS min_dist
            FROM {prev}
        """

@query(oracle=_kcenter_oracle_sql(k=8, start_id=0))
def q_kcenter_coreset(spark, sf):
    """Greedy k-center coreset (k=8) over the embeddings table: each
    round is one corpus pass with the selected vectors as broadcast
    literals and a TakeOrderedAndProject argmax — one (id, dist) row
    collected per round. Fully deterministic (6-dp distances, id
    tiebreaks), so the oracle replays the entire greedy selection."""
    from pdf_to_vectordb_etl_spark.operators import clustering

    emb = _t(spark, sf, "embeddings")
    out = clustering.kcenter_select(emb, k=8, start_id=0)
    return out.select(
        "sel_rank", F.col("id").alias("vec_id"), F.round("min_dist", 6).alias("min_dist")
    )


@query(oracle=r"""
            WITH w AS (
              SELECT doc_id AS id,
                     string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            toks AS (
              SELECT id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w)-2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
              FROM w),
            rare AS (
              SELECT tok FROM toks GROUP BY tok
              HAVING count(*) BETWEEN 2 AND 3),
            post AS (SELECT id, tok FROM toks JOIN rare USING (tok)),
            e AS (
              SELECT DISTINCT a.id AS a, b.id AS b
              FROM post a JOIN post b ON a.tok = b.tok AND a.id < b.id),
            adj AS (
              SELECT a AS src, b AS dst FROM e
              UNION ALL SELECT b AS src, a AS dst FROM e),
            seeds AS (
              SELECT doc_id AS id, lang AS label FROM documents
              WHERE doc_id % 4 = 0),
            v1 AS (
              SELECT adj.src AS nid, l.label, count(*) AS c
              FROM adj JOIN seeds l ON adj.dst = l.id
              GROUP BY adj.src, l.label),
            b1 AS (
              SELECT nid AS id, label FROM v1
              QUALIFY row_number() OVER (PARTITION BY nid
                ORDER BY c DESC, label) = 1),
            l1 AS (
              SELECT * FROM seeds
              UNION ALL
              SELECT * FROM b1 WHERE id NOT IN (SELECT id FROM seeds)),
            v2 AS (
              SELECT adj.src AS nid, l.label, count(*) AS c
              FROM adj JOIN l1 l ON adj.dst = l.id
              GROUP BY adj.src, l.label),
            b2 AS (
              SELECT nid AS id, label FROM v2
              QUALIFY row_number() OVER (PARTITION BY nid
                ORDER BY c DESC, label) = 1),
            l2 AS (
              SELECT * FROM seeds
              UNION ALL
              SELECT * FROM b2 WHERE id NOT IN (SELECT id FROM seeds))
            SELECT id AS doc_id, label FROM l2
        """)
def q_label_spread(spark, sf):
    """Semi-supervised label propagation: 25% of documents seed their
    lang label into the shared-rare-token graph; two synchronous
    majority-vote rounds (ties to the smallest label) spread it. Per
    round: one edge⋈label join + count agg + WindowGroupLimit top-1 —
    O(|E|) relational work, the PageRank family shape."""
    from pdf_to_vectordb_etl_spark.operators import graph

    docs = _t(spark, sf, "documents")
    edges = graph.shared_token_edges(docs, min_df=2, max_df=3)
    seeds = docs.filter(F.col("doc_id") % 4 == 0).select(
        F.col("doc_id").alias("id"), F.col("lang").alias("label")
    )
    out = graph.label_spread(edges, seeds, rounds=2)
    return out.select(F.col("id").alias("doc_id"), "label")


@query(oracle=r"""
            WITH toks AS (
              SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            h AS (
              SELECT source, md5(tok) AS hx FROM toks),
            parts AS (
              SELECT source,
                     (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket,
                     length(regexp_extract(substr(hx, 3, 12), '^0*')) AS z,
                     substr(substr(hx, 3, 12),
                            length(regexp_extract(substr(hx, 3, 12), '^0*')) + 1, 1)
                       AS nib
              FROM h),
            rho AS (
              SELECT source, bucket,
                     CASE WHEN z = 12 THEN 49
                          ELSE z * 4
                               + CASE WHEN nib = '1' THEN 3
                                      WHEN nib IN ('2', '3') THEN 2
                                      WHEN nib IN ('4', '5', '6', '7') THEN 1
                                      ELSE 0 END
                               + 1 END AS rho
              FROM parts),
            regs AS (
              SELECT source, bucket, max(rho) AS r
              FROM rho GROUP BY source, bucket),
            agg AS (
              SELECT source, sum(pow(2.0, -r)) AS s, count(*) AS np
              FROM regs GROUP BY source),
            est AS (
              SELECT source,
                     (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                       / (s + (256 - np)) AS raw,
                     256 - np AS v
              FROM agg)
            SELECT source,
                   round(CASE WHEN raw <= 2.5 * 256 AND v > 0
                              THEN 256.0 * ln(256.0 / v)
                              ELSE raw END, 4) AS hll_estimate
            FROM est
        """)
def q_t9_stream_hll(spark, sf):
    """T9 — incremental distinct-count sketching: the HLL register file
    maintained as a streaming max-aggregate (associative, so each
    micro-batch folds in without rescanning history), then the
    harmonic-mean estimate over the ≤ sources×256-row snapshot. Over
    identical rows the snapshot equals the batch register file, so the
    batch HLL SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import sketch
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_hll_registers,
        table_stream,
    )

    stream = table_stream(spark, sf, "documents")
    regs = stream_hll_registers(stream)
    snap = drain_to_memory(regs, "t9_stream_hll_regs")
    return sketch.hll_estimate_from_registers(snap, by="source")


def _ewma_oracle_sql(alpha: float = 0.3, lookback: int = 20) -> str:
    """DuckDB twin of aggregates.ewma: identical weight-ladder literals
    (Python repr round-trips to the same double), identical trailing
    ROWS frame, identical sequential summation order."""
    wts = [alpha * (1 - alpha) ** (lookback - 1 - k) for k in range(lookback)]
    wl = "[" + ", ".join(repr(w) for w in wts) + "]"
    lb = lookback
    return f"""
            WITH ev AS (
              SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
            a AS (
              SELECT user_id, event_id,
                     list(value) OVER (PARTITION BY user_id
                       ORDER BY tus, event_id
                       ROWS BETWEEN {lb - 1} PRECEDING AND CURRENT ROW) AS arr
              FROM ev),
            w AS (SELECT {wl} AS wl)
            SELECT user_id, event_id,
                   round(
                     list_aggregate(list_transform(generate_series(1, len(arr)),
                       i -> arr[i] * wl[{lb} - len(arr) + i]), 'sum')
                     / list_aggregate(list_transform(generate_series(1, len(arr)),
                       i -> wl[{lb} - len(arr) + i]), 'sum'), 6) AS ewma
            FROM a, w
        """

@query(oracle=_ewma_oracle_sql(alpha=0.3, lookback=20))
def q_ewma_smooth(spark, sf):
    """Bounded-lookback EWMA per user: the α(1−α)^j ladder enters both
    engines as the same Python-float literals, the trailing-window dot
    product replaces the sequential recurrence — one ROWS window, no
    UDF, parallel across keys."""
    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("tus"), "value"
    )
    out = aggregates.ewma(
        ev, value_col="value", by="user_id", order_cols=("tus", "event_id"),
        alpha=0.3, lookback=20,
    )
    return out.select("user_id", "event_id", "ewma")


@query(oracle=r"""
            WITH s0 AS (
              SELECT doc_id, string_split_regex(text, '\s+') AS toks
              FROM documents),
            s1 AS (
              SELECT doc_id,
                     list_transform(
                       generate_series(0,
                         CAST(ceil(len(toks) / 12.0) AS BIGINT) - 1),
                       i -> array_to_string(toks[i*12+1:i*12+12], ' ')) AS sents
              FROM s0),
            ex AS (
              SELECT doc_id, unnest(range(len(sents))) AS sent_idx,
                     unnest(sents) AS sent
              FROM s1 WHERE len(sents) > 0),
            e AS (
              SELECT doc_id, sent_idx,
                     list_transform(generate_series(0, 15),
                       i -> CAST(concat('0x',
                              substr(md5(sent || ':se:' || i), 1, 8)) AS BIGINT)
                            / 2147483648.0 - 1.0) AS v
              FROM ex),
            l AS (
              SELECT doc_id, sent_idx, v,
                     lag(v) OVER (PARTITION BY doc_id ORDER BY sent_idx) AS pv
              FROM e),
            c AS (
              SELECT doc_id, sent_idx,
                     CASE WHEN pv IS NULL THEN NULL ELSE
                       round(
                         list_aggregate(list_transform(generate_series(1, 16),
                           i -> v[i] * pv[i]), 'sum')
                         / (sqrt(list_aggregate(list_transform(v, x -> x * x),
                              'sum'))
                            * sqrt(list_aggregate(list_transform(pv, x -> x * x),
                                'sum'))), 6)
                     END AS cos_prev
              FROM l)
            SELECT doc_id, sent_idx,
                   CAST(sum(CASE WHEN cos_prev IS NULL OR cos_prev < 0.2
                                 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY sent_idx
                           ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS chunk_id,
                   cos_prev
            FROM c
        """)
def q_semantic_chunks(spark, sf):
    """Embedding-drift semantic chunking: new chunk where consecutive-
    unit cosine drops below 0.2 (12-token segments — this corpus has no
    sentence punctuation). Units explode once, one per-doc window (lag
    + running boundary count); the portable md5 embedding makes every
    cosine bit-identical across engines."""
    from pdf_to_vectordb_etl_spark.operators import chunking

    docs = _t(spark, sf, "documents")
    return chunking.semantic_chunks(docs, threshold=0.2, dim=16, segment_tokens=12)


@query(oracle=r"""
            WITH toks0 AS (
              SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            toks AS (SELECT lang, tok FROM toks0 WHERE tok <> ''),
            vc AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
            vocab AS (
              SELECT tok FROM vc
              QUALIFY row_number() OVER (ORDER BY n DESC, tok) <= 2000),
            f AS (
              SELECT t.lang, (v.tok IS NULL) AS oov
              FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
            SELECT lang, count(*) AS n_tokens,
                   CAST(sum(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                   round(sum(CASE WHEN oov THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
                     AS oov_rate
            FROM f GROUP BY lang
        """)
def q_vocab_coverage(spark, sf):
    """Tokenizer-vocab coverage: top-2000-token vocabulary (count-desc,
    token-asc deterministic cut) vs per-language OOV occurrence rate.
    Vocabulary via TakeOrderedAndProject; vocab side broadcast."""
    docs = _t(spark, sf, "documents")
    return ta.vocab_coverage(docs, vocab_size=2000)


@query(oracle=f"""
            WITH w AS (
              SELECT doc_id AS id, string_split({_NORM}, ' ') AS w
              FROM documents),
            sh AS (SELECT id, unnest({_SHINGLES}) AS s FROM w),
            tot AS (SELECT count(*) AS n FROM documents),
            dfh AS (SELECT s, count(*) AS df_h FROM sh GROUP BY s),
            wex AS (
              SELECT id, s, ln(1 + (SELECT n FROM tot) * 1.0 / df_h) AS idf
              FROM sh JOIN dfh USING (s)),
            ws AS (SELECT id, sum(idf) AS wsum FROM wex GROUP BY id),
            com AS (
              SELECT a.id AS id_a, b.id AS id_b, sum(a.idf) AS w_common
              FROM wex a JOIN wex b ON a.s = b.s AND a.id < b.id
              GROUP BY a.id, b.id),
            scored AS (
              SELECT id_a, id_b,
                     round(w_common / least(wa.wsum, wb.wsum), 6)
                       AS idf_containment
              FROM com
              JOIN ws wa ON wa.id = com.id_a
              JOIN ws wb ON wb.id = com.id_b)
            SELECT id_a, id_b, idf_containment
            FROM scored WHERE idf_containment >= 0.5
        """)
def q_dedup_idf_containment(spark, sf):
    """IDF-weighted containment near-dup pairs: boilerplate shingles
    barely count, rare shared content drives the score. Inverted-index
    join on shingle hashes; corpus size enters as a 1-row broadcast."""
    docs = _t(spark, sf, "documents")
    return dedup.idf_weighted_containment_pairs(docs, threshold=0.5)


@query(oracle="""
            WITH items AS (
              SELECT DISTINCT user_id AS k, event_type AS item FROM events),
            tot AS (SELECT count(DISTINCT k) AS n FROM items),
            per_item AS (SELECT item, count(*) AS n_item FROM items GROUP BY item),
            pairs AS (
              SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_keys
              FROM items a JOIN items b ON a.k = b.k AND a.item < b.item
              GROUP BY a.item, b.item
              HAVING count(*) >= 10)
            SELECT item_a, item_b, n_keys,
                   round(n_keys * 1.0 / tot.n, 6) AS support,
                   round((n_keys * tot.n) * 1.0 / (na.n_item * nb.n_item), 4)
                     AS lift
            FROM pairs
            JOIN per_item na ON na.item = item_a
            JOIN per_item nb ON nb.item = item_b
            CROSS JOIN tot
        """)
def q_cooccurrence_pairs(spark, sf):
    """Market-basket pair mining over the event stream: support and
    lift per unordered event-type pair. Per-key fan-out bounded by the
    item domain; key-universe size broadcast."""
    from pdf_to_vectordb_etl_spark.operators import profiling

    ev = _t(spark, sf, "events")
    return profiling.cooccurrence_pairs(
        ev, key_col="user_id", item_col="event_type", min_keys=10
    )


@query(oracle="""
            WITH ev AS (
              SELECT event_type, epoch_us(ts) AS tus, value FROM events),
            bounds AS (
              SELECT min(tus) AS t_lo, max(tus) AS t_hi,
                     min(value) AS v_lo, max(value) AS v_hi
              FROM ev),
            binned AS (
              SELECT event_type,
                     CASE WHEN tus < (t_lo + t_hi) / 2 THEN 'ref'
                          ELSE 'cur' END AS half,
                     CASE WHEN v_hi = v_lo THEN 0
                          ELSE least(9, CAST(floor((value - v_lo)
                                 / (v_hi - v_lo) * 10) AS INT)) END AS bin
              FROM ev CROSS JOIN bounds),
            counts AS (
              SELECT event_type, half, bin, count(*) AS c
              FROM binned GROUP BY event_type, half, bin),
            tot AS (
              SELECT event_type, half, count(*) AS n
              FROM binned GROUP BY event_type, half),
            probs AS (
              SELECT counts.event_type, counts.half, counts.bin,
                     (c + 0.5) / (n + 0.5 * 10) AS p
              FROM counts JOIN tot
                ON counts.event_type = tot.event_type
                AND counts.half = tot.half),
            ref AS (SELECT event_type, bin, p AS p_ref FROM probs
                    WHERE half = 'ref'),
            cur AS (SELECT event_type, bin, p AS p_cur FROM probs
                    WHERE half = 'cur'),
            halves AS (
              SELECT event_type,
                     coalesce(sum(CASE WHEN half = 'ref' THEN n END), 0) AS nr,
                     coalesce(sum(CASE WHEN half = 'cur' THEN n END), 0) AS nc
              FROM tot GROUP BY event_type),
            merged AS (
              SELECT coalesce(ref.event_type, cur.event_type) AS event_type,
                     coalesce(p_ref, 0.5 / (nr + 0.5 * 10)) AS pr,
                     coalesce(p_cur, 0.5 / (nc + 0.5 * 10)) AS pc
              FROM ref
              FULL OUTER JOIN cur
                ON ref.event_type = cur.event_type AND ref.bin = cur.bin
              JOIN halves
                ON halves.event_type = coalesce(ref.event_type, cur.event_type))
            SELECT event_type,
                   round(sum((pc - pr) * ln(pc / pr)), 5) AS psi
            FROM merged GROUP BY event_type
        """)
def q_psi_drift(spark, sf):
    """Population Stability Index per event type between the early and
    late half of the stream — the ML-monitoring drift score. One 1-row
    bounds broadcast, narrow binning, one partial-combinable count agg,
    PSI fold over ≤ groups×bins rows."""
    from pdf_to_vectordb_etl_spark.operators import profiling

    ev = _t(spark, sf, "events").select(
        "event_type", F.expr("ts div 1000").alias("tus"), "value"
    )
    return profiling.psi_drift(
        ev, value_col="value", by="event_type", ts_col="tus", bins=10
    )


@query(oracle="""
            WITH ev AS (
              SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
              FROM events),
            nx AS (
              SELECT event_type AS src,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY tus, event_id) AS dst
              FROM ev),
            e AS (
              SELECT src, dst, count(*) AS n
              FROM nx WHERE dst IS NOT NULL GROUP BY src, dst)
            SELECT src, dst, n,
                   round(n * 1.0 / sum(n) OVER (PARTITION BY src), 6) AS p
            FROM e
        """)
def q_markov_transitions(spark, sf):
    """First-order Markov transition matrix of the user journey:
    per-key lead() adjacency (one window), count agg, per-source
    normalization over the event-type-cardinality edge table."""
    from pyspark.sql import Window

    from pdf_to_vectordb_etl_spark.operators import graph

    ev = _t(spark, sf, "events").withColumn("tus", F.expr("ts div 1000"))
    edges = graph.transition_edges(ev)
    wsrc = Window.partitionBy("src")
    return edges.select(
        "src",
        "dst",
        F.col("w").cast("long").alias("n"),
        F.round(F.col("w") / F.sum("w").over(wsrc), 6).alias("p"),
    )


@query(oracle="""
            WITH counts AS (
              SELECT source, count(*) AS n_avail FROM documents GROUP BY source),
            c2 AS (SELECT source, n_avail, CAST(n_avail AS DOUBLE) AS w
                   FROM counts),
            tot AS (SELECT sum(w) AS wsum FROM c2),
            q AS (
              SELECT source, n_avail, 100 * w / wsum AS ideal_raw
              FROM c2, tot),
            q2 AS (
              SELECT source, n_avail,
                     round(ideal_raw, 6) AS ideal,
                     CAST(floor(ideal_raw) AS BIGINT) AS base,
                     round(ideal_raw - floor(ideal_raw), 6) AS rem
              FROM q),
            lft AS (SELECT 100 - sum(base) AS l FROM q2)
            SELECT source, n_avail, ideal,
                   least(n_avail,
                         base + CASE WHEN row_number() OVER
                                  (ORDER BY rem DESC, source) <= l
                                THEN 1 ELSE 0 END) AS n_alloc
            FROM q2, lft
        """)
def q_quota_allocate(spark, sf):
    """Largest-remainder allocation of an exact 100-doc budget across
    sources, weighted proportionally to availability — the
    configuration where the capacity cap provably never binds (ideal_g
    = total·n_g/N ≤ n_g whenever total ≤ N), so the DuckDB single-
    window Hamilton replay equals the operator's cap-aware seat loop
    on ANY corpus. The capped/redistribution path is pinned separately
    by the hypothesis property and the budget-exceeds test."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    return curation.quota_allocate(
        docs, total=100, weight=F.col("n_avail").cast("double"), by="source"
    )


@query(oracle="""
            WITH ev AS (
              SELECT user_id, epoch_us(ts) AS tus, value FROM events),
            ref AS (SELECT max(tus) AS r FROM ev)
            SELECT user_id, count(*) AS n_events,
                   round(sum(value * pow(0.5,
                     (((SELECT r FROM ref) - tus) / 86400000000.0) / 30.0)), 4)
                     AS decayed_value
            FROM ev GROUP BY user_id
        """)
def q_decay_weighted_value(spark, sf):
    """Recency-decayed value per user (half-life 30 days, anchored at
    the corpus max timestamp — a 1-row broadcast, not wall clock). One
    partial-combinable agg; decay factor in codegen."""
    ev = _t(spark, sf, "events").select(
        "user_id", F.expr("ts div 1000").alias("tus"), "value"
    )
    return aggregates.time_decay_sum(ev, half_life_days=30.0)


@query(oracle="""
            WITH ev AS (SELECT event_type, value FROM events),
            q AS (
              SELECT event_type,
                     quantile_cont(value, 0.25) AS q1,
                     quantile_cont(value, 0.75) AS q3
              FROM ev GROUP BY event_type),
            f AS (
              SELECT event_type,
                     round(q1 - 1.5 * (q3 - q1), 6) AS lo,
                     round(q3 + 1.5 * (q3 - q1), 6) AS hi
              FROM q)
            SELECT ev.event_type, value, lo, hi
            FROM ev JOIN f USING (event_type)
            WHERE value < lo OR value > hi
        """)
def q_iqr_outliers(spark, sf):
    """Tukey-fence outliers per event type: exact quartiles in one agg,
    group-cardinality fence table broadcast back, 6-dp fences so the
    flag boundary is engine-stable."""
    ev = _t(spark, sf, "events").select("event_type", "value")
    return aggregates.iqr_outlier_flags(ev, value_col="value", by="event_type")


@query(oracle=f"""
            WITH sh AS (
              SELECT doc_id, {_SHINGLES} AS shingles
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)),
            ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)) AS j
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            keep AS (SELECT id_a, id_b FROM pairs WHERE j >= 0.8),
            com AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id)
            SELECT com.id_a, com.id_b,
                   count(*) AS n_shared,
                   array_to_string(list_sort(list(s))[1:3], ' | ') AS shared_sample
            FROM com JOIN keep
              ON com.id_a = keep.id_a AND com.id_b = keep.id_b
            GROUP BY com.id_a, com.id_b
        """)
def q_dedup_explain(spark, sf):
    """Near-dup pair EXPLANATION: shared-shingle count + a sorted
    3-shingle sample per candidate pair — the review payload a dedup
    decision queue renders. Shingle arrays join to the (small) pair
    table, never materialized corpus-wide."""
    docs = _t(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8).select("id_a", "id_b")
    return dedup.explain_pairs(docs, pairs, n=3, sample=3)


@query(oracle="""
            WITH w AS (
              SELECT doc_id AS id,
                     string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            toks AS (
              SELECT id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w)-2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
              FROM w),
            rare AS (
              SELECT tok FROM toks GROUP BY tok
              HAVING count(*) BETWEEN 2 AND 3),
            post AS (SELECT id, tok FROM toks JOIN rare USING (tok)),
            e AS (
              SELECT DISTINCT a.id AS src, b.id AS dst
              FROM post a JOIN post b ON a.tok = b.tok AND a.id < b.id),
            nodes AS (SELECT src AS n FROM e UNION SELECT dst AS n FROM e),
            bc AS (SELECT greatest(count(*) // 64, 1) AS nb FROM nodes),
            nbk AS (
              SELECT n, ('0x' || substr(md5(CAST(n AS VARCHAR)), 1, 4))::BIGINT
                        % (SELECT nb FROM bc) AS b
              FROM nodes),
            cand AS (
              SELECT a.n AS src, b2.n AS dst
              FROM nbk a JOIN nbk b2
                ON b2.b = (a.b + 1) % (SELECT nb FROM bc)
               AND a.n <> b2.n),
            neg AS (
              SELECT cand.src, cand.dst
              FROM cand LEFT JOIN e
                ON cand.src = e.src AND cand.dst = e.dst
              WHERE e.src IS NULL)
            SELECT src, dst FROM neg
            QUALIFY row_number() OVER (PARTITION BY src
              ORDER BY md5(src || '→' || dst), dst) <= 2
        """)
def q_negative_edges(spark, sf):
    """Link-prediction negative sampling over the shared-rare-shingle
    document graph: per source node, the 2 non-neighbours ranked first
    by md5(src‖dst) — deterministic, layout-invariant. (The event-type
    transition graph is COMPLETE on this corpus — no negatives exist —
    so the doc graph is the meaningful target.) Candidates come from
    the hash-bucketed window generator (md5-bucket equi-join, ~64
    proposals per source, O(n·64) volume) — this corpus lands ~7
    buckets, so the oracle hash-verifies the bucketed path itself, not
    a small-domain degenerate of it."""
    from pdf_to_vectordb_etl_spark.operators import graph

    docs = _t(spark, sf, "documents")
    edges = graph.shared_token_edges(docs, min_df=2, max_df=3).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    return graph.negative_edge_sample(edges, k_per_src=2)


def _kcore_oracle_sql(k: int = 4, rounds: int = 12) -> str:
    """Unrolled DuckDB replay of k_core over the shared-rare-shingle
    graph: the negative_edges edge CTE symmetrized, then ``rounds``
    peel blocks (degree -> keep -> induced edges). Idempotent past
    fixpoint, so any unroll depth >= the true round count is exact."""
    head = r"""
        WITH w AS (
          SELECT doc_id AS id,
                 string_split(lower(regexp_replace(trim(text), '\s+', ' ',
                   'g')), ' ') AS w
          FROM documents),
        toks AS (
          SELECT id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(w)-2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
          FROM w),
        rare AS (
          SELECT tok FROM toks GROUP BY tok
          HAVING count(*) BETWEEN 2 AND 3),
        post AS (SELECT id, tok FROM toks JOIN rare USING (tok)),
        und AS (
          SELECT DISTINCT a.id AS u, b.id AS v
          FROM post a JOIN post b ON a.tok = b.tok AND a.id < b.id),
        e0 AS MATERIALIZED (
          SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und)"""
    blocks = []
    for r in range(1, rounds + 1):
        blocks.append(
            f"""d{r} AS (SELECT u, count(*) AS c FROM e{r - 1} GROUP BY u),
            kp{r} AS MATERIALIZED (SELECT u FROM d{r} WHERE c >= {k}),
            e{r} AS MATERIALIZED (
              SELECT e.u, e.v FROM e{r - 1} e
              JOIN kp{r} x ON e.u = x.u
              JOIN kp{r} y ON e.v = y.u)"""
        )
    final = (
        f"SELECT u AS node, CAST(count(*) AS BIGINT) AS degree "
        f"FROM e{rounds} GROUP BY u"
    )
    return head + ",\n" + ",\n".join(blocks) + "\n" + final

@query(oracle=_kcore_oracle_sql(4, 12))
def q_graph_kcore(spark, sf):
    """k-core of the shared-rare-shingle doc graph (k=4): iterative
    peeling to fixpoint, per-round degree agg + two semi-joins +
    localCheckpoint. max_rounds matches the oracle's unroll depth (12)
    — extra rounds past fixpoint are no-ops (peeling is idempotent),
    and a graph needing MORE rounds makes the operator RAISE rather
    than silently diverge from the replay."""
    from pdf_to_vectordb_etl_spark.operators import graph

    docs = _t(spark, sf, "documents")
    edges = graph.shared_token_edges(docs, min_df=2, max_df=3)
    return graph.k_core(edges, k=4, max_rounds=12)


@query(oracle="""
            SELECT event_type, count(*) AS n,
                   round(corr(value,
                     (epoch_us(ts) % 86400000000) / 3600000000.0), 6)
                     AS corr_vh,
                   round(covar_pop(value,
                     (epoch_us(ts) % 86400000000) / 3600000000.0), 6)
                     AS covar_p,
                   round(covar_samp(value,
                     (epoch_us(ts) % 86400000000) / 3600000000.0), 6)
                     AS covar_s,
                   round(var_pop(value), 6) AS var_p,
                   round(var_samp(value), 6) AS var_s
            FROM events GROUP BY event_type
        """)
def q_corr_surface(spark, sf):
    """Bivariate-statistics aggregate surface per event type: Pearson
    corr, population/sample covariance and variance of (value, hour-of
    -day) — one partial-combinable agg, rounded identically on both
    engines. Time re-zeroes (mod 24h) so the sums stay small."""
    ev = _t(spark, sf, "events")
    hod = (F.expr("ts div 1000") % F.lit(86_400_000_000)) / F.lit(
        3_600_000_000.0
    )
    # corr derived from NULL-safe accumulators (Spark 4 ANSI corr()
    # raises on zero-variance groups; DuckDB's returns NULL)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.covar_pop(F.col("value"), hod).alias("_cv"),
        F.stddev_pop("value").alias("_sx"),
        F.stddev_pop(hod).alias("_sy"),
        F.round(F.covar_pop(F.col("value"), hod), 6).alias("covar_p"),
        F.round(F.covar_samp(F.col("value"), hod), 6).alias("covar_s"),
        F.round(F.var_pop("value"), 6).alias("var_p"),
        F.round(F.var_samp("value"), 6).alias("var_s"),
    )
    return agg.select(
        "event_type",
        "n",
        F.round(F.col("_cv") / F.expr("nullif(_sx * _sy, 0.0)"), 6)
        .alias("corr_vh"),
        "covar_p",
        "covar_s",
        "var_p",
        "var_s",
    )


@query(oracle="""
            WITH ev AS (
              SELECT event_type, epoch_us(ts) AS tus, value FROM events),
            bounds AS (SELECT min(tus) AS t_lo, max(tus) AS t_hi FROM ev),
            labeled AS (
              SELECT event_type,
                     CASE WHEN tus < (t_lo + t_hi) / 2 THEN 'ref'
                          ELSE 'cur' END AS half,
                     value
              FROM ev CROSS JOIN bounds),
            tot AS (
              SELECT event_type, half, count(*) AS n
              FROM labeled GROUP BY event_type, half),
            counts AS (
              SELECT event_type, half, value, count(*) AS c
              FROM labeled GROUP BY event_type, half, value),
            pts AS (SELECT DISTINCT event_type, value FROM counts),
            halves AS (SELECT DISTINCT event_type, half FROM tot),
            grid AS (
              SELECT pts.event_type, halves.half, pts.value,
                     coalesce(counts.c, 0) AS c
              FROM pts
              JOIN halves ON pts.event_type = halves.event_type
              LEFT JOIN counts
                ON counts.event_type = pts.event_type
                AND counts.half = halves.half
                AND counts.value = pts.value),
            cum AS (
              SELECT event_type, half, value,
                     sum(c) OVER (PARTITION BY event_type, half
                       ORDER BY value ROWS UNBOUNDED PRECEDING) AS cdf_n
              FROM grid),
            cdf AS (
              SELECT cum.event_type, cum.half, cum.value,
                     cdf_n * 1.0 / tot.n AS cdf
              FROM cum JOIN tot
                ON cum.event_type = tot.event_type AND cum.half = tot.half),
            ref AS (SELECT event_type, value, cdf AS f_ref FROM cdf
                    WHERE half = 'ref'),
            cur AS (SELECT event_type, value, cdf AS f_cur FROM cdf
                    WHERE half = 'cur')
            SELECT ref.event_type,
                   round(max(abs(f_ref - f_cur)), 6) AS ks_stat
            FROM ref JOIN cur
              ON ref.event_type = cur.event_type AND ref.value = cur.value
            GROUP BY ref.event_type
        """)
def q_ks_drift(spark, sf):
    """Two-sample Kolmogorov-Smirnov statistic per event type between
    the early and late half of the stream — the distribution-free
    companion to psi_drift (no binning choice). Per group: empirical
    CDFs of both halves at every observed value via counting joins,
    then max |ΔCDF| — windows stay partitioned by event_type."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events").select(
        "event_type", F.expr("ts div 1000").alias("tus"), "value"
    )
    bounds = ev.agg(
        F.min("tus").alias("t_lo"), F.max("tus").alias("t_hi")
    )
    j = ev.crossJoin(F.broadcast(bounds))
    half = F.when(
        F.col("tus") < (F.col("t_lo") + F.col("t_hi")) / 2, F.lit("ref")
    ).otherwise(F.lit("cur"))
    labeled = j.select("event_type", half.alias("half"), "value")
    tot = labeled.groupBy("event_type", "half").agg(F.count("*").alias("n"))
    # distinct evaluation points; CDF of each half at each point via a
    # cumulative count over a per-group window ordered by value
    counts = labeled.groupBy("event_type", "half", "value").agg(
        F.count("*").alias("c")
    )
    pts = counts.select("event_type", "value").distinct()
    grid = (
        pts.join(
            tot.select("event_type", "half").distinct(), "event_type"
        )
        .join(counts, ["event_type", "half", "value"], "left")
        .select(
            "event_type", "half", "value",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    w = Window.partitionBy("event_type", "half").orderBy("value")
    cum = grid.withColumn(
        "cdf_n", F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    cdf = cum.join(tot, ["event_type", "half"]).select(
        "event_type", "half", "value",
        (F.col("cdf_n") / F.col("n")).alias("cdf"),
    )
    ref = cdf.filter(F.col("half") == "ref").select(
        "event_type", "value", F.col("cdf").alias("f_ref")
    )
    cur = cdf.filter(F.col("half") == "cur").select(
        "event_type", "value", F.col("cdf").alias("f_cur")
    )
    return (
        ref.join(cur, ["event_type", "value"])
        .groupBy("event_type")
        .agg(
            F.round(F.max(F.abs(F.col("f_ref") - F.col("f_cur"))), 6).alias(
                "ks_stat"
            )
        )
    )


@query(oracle="""
            WITH ev AS (
              SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
            v AS (
              SELECT user_id, min(tus) AS t1 FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
            c AS (
              SELECT ev.user_id, v.t1, min(tus) AS t2
              FROM ev JOIN v ON ev.user_id = v.user_id
              WHERE event_type = 'click' AND tus > v.t1
              GROUP BY ev.user_id, v.t1
              HAVING min(tus) <= v.t1 + 1800000000),
            p AS (
              SELECT ev.user_id, c.t2, min(tus) AS t3
              FROM ev JOIN c ON ev.user_id = c.user_id
              WHERE event_type = 'purchase' AND tus > c.t2
              GROUP BY ev.user_id, c.t2
              HAVING min(tus) <= c.t2 + 7200000000),
            base AS (SELECT count(*) AS b FROM v)
            SELECT step, n_keys,
                   round(n_keys * 1.0 / (SELECT b FROM base), 6) AS rate
            FROM (
              SELECT 'view' AS step, count(*) AS n_keys FROM v
              UNION ALL
              SELECT 'click' AS step, count(*) AS n_keys FROM c
              UNION ALL
              SELECT 'purchase' AS step, count(*) AS n_keys FROM p)
        """)
def q_timed_funnel(spark, sf):
    """Time-boxed conversion funnel view→click(≤30 m)→purchase(≤2 h):
    three min-aggs + key equi-joins — never a per-key sort-and-walk.
    One row per step with the conversion rate vs step 1."""
    ev = _t(spark, sf, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("tus")
    )
    return aggregates.timed_funnel(ev)


def _bpe_oracle_sql() -> str:
    """DuckDB twin of bpe_apply_report: the identical regexp chain
    (RE2 backreference syntax), generated from the same merge list."""
    import re as _re

    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        BPE_DEFAULT_MERGES,
    )

    steps = []
    prev = "s0"
    for i, (a, b) in enumerate(BPE_DEFAULT_MERGES, start=1):
        pat = f"(^|·){_re.escape(a)}·{_re.escape(b)}(·|$)"
        steps.append(
            f"            s{i} AS (SELECT doc_id, regexp_replace(sym,"
            f" '{pat}', '\\1{a}{b}\\2', 'g') AS sym FROM {prev})"
        )
        prev = f"s{i}"
    steps_sql = ",\n".join(steps)
    return rf"""
            WITH words AS (
              SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\s+')) AS w
              FROM documents),
            w2 AS (SELECT doc_id, w FROM words WHERE w <> ''),
            s0 AS (
              SELECT doc_id,
                     regexp_replace(regexp_replace(w, '(.)', '\1·', 'g'),
                                    '·$', '') AS sym
              FROM w2),
{steps_sql}
            SELECT doc_id, count(*) AS n_words,
                   CAST(sum(len(string_split(sym, '·'))) AS BIGINT)
                     AS n_subwords,
                   round(sum(len(string_split(sym, '·'))) * 1.0 / count(*), 6)
                     AS subwords_per_word
            FROM {prev} GROUP BY doc_id
        """

@query(oracle=_bpe_oracle_sql())
def q_bpe_apply(spark, sf):
    """BPE tokenizer serving: fixed priority-ordered merges applied as
    boundary-guarded regexp passes (single left-to-right scan per rule
    — deterministic and engine-identical); per-doc subword counts."""
    docs = _t(spark, sf, "documents")
    return ta.bpe_apply_report(docs)


@query(oracle="""
            WITH ch AS (
              SELECT user_id, event_type, value,
                     CASE WHEN value < 5 THEN 'delete' ELSE 'upsert' END AS op,
                     event_id AS ord
              FROM events WHERE event_id % 2 = 1),
            win AS (
              SELECT user_id,
                     arg_max(event_type, ord) AS event_type,
                     arg_max(value, ord) AS value,
                     arg_max(op, ord) AS op
              FROM ch GROUP BY user_id)
            SELECT user_id, event_type, round(value, 4) AS value
            FROM win WHERE op <> 'delete'
        """)
def q_t10_stream_cdc(spark, sf):
    """T10 — streaming CDC MERGE with deletes: the odd-event changelog
    (value<5 ⇒ delete) maintained as a tombstone-retaining versioned
    snapshot via foreachBatch; the live view must equal the one-shot
    MERGE regardless of micro-batch boundaries (convergence is pinned
    separately by the interleaved-version test)."""
    import tempfile

    from pdf_to_vectordb_etl_spark.operators.cdc import live_rows
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        await_stream,
        read_snapshot,
        stream_apply_changes,
        table_stream,
    )

    stream = table_stream(spark, sf, "events")
    ch = stream.filter(F.col("event_id") % 2 == 1).select(
        "user_id",
        "event_type",
        "value",
        F.when(F.col("value") < 5, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("event_id").alias("ord"),
    )
    with tempfile.TemporaryDirectory(prefix="t10snap") as snap:
        with tempfile.TemporaryDirectory(prefix="t10ckpt") as ckpt:
            await_stream(stream_apply_changes(ch, snap, ckpt, ["user_id"], "ord"))
        # materialised before the directory is removed
        return live_rows(read_snapshot(spark, snap)).select(
            "user_id", "event_type", F.round("value", 4).alias("value")
        ).localCheckpoint(eager=True)


@query(oracle="""
            WITH ev AS (
              SELECT epoch_us(ts) // 86400000000 AS day,
                     CAST(user_id AS VARCHAR) AS uid
              FROM events),
            h AS (SELECT day, md5(uid) AS hx FROM ev),
            parts AS (
              SELECT day,
                     (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS bucket,
                     length(regexp_extract(substr(hx, 3, 12), '^0*')) AS z,
                     substr(substr(hx, 3, 12),
                            length(regexp_extract(substr(hx, 3, 12), '^0*')) + 1, 1)
                       AS nib
              FROM h),
            rho AS (
              SELECT day, bucket,
                     CASE WHEN z = 12 THEN 49
                          ELSE z * 4
                               + CASE WHEN nib = '1' THEN 3
                                      WHEN nib IN ('2', '3') THEN 2
                                      WHEN nib IN ('4', '5', '6', '7') THEN 1
                                      ELSE 0 END
                               + 1 END AS rho
              FROM parts),
            regs AS (
              SELECT day, bucket, max(rho) AS r
              FROM rho GROUP BY day, bucket),
            days AS (SELECT DISTINCT day FROM regs),
            bkts AS (SELECT DISTINCT bucket FROM regs),
            dense AS (
              SELECT days.day, bkts.bucket, coalesce(regs.r, 0) AS r
              FROM days CROSS JOIN bkts
              LEFT JOIN regs
                ON regs.day = days.day AND regs.bucket = bkts.bucket),
            merged AS (
              SELECT day, bucket,
                     max(r) OVER (PARTITION BY bucket ORDER BY day
                       ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS rw
              FROM dense),
            live AS (SELECT day, bucket, rw AS r FROM merged WHERE rw > 0),
            agg AS (
              SELECT day, sum(pow(2.0, -r)) AS s, count(*) AS np
              FROM live GROUP BY day),
            est AS (
              SELECT day,
                     (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                       / (s + (256 - np)) AS raw,
                     256 - np AS v
              FROM agg)
            SELECT day AS time_bucket,
                   round(CASE WHEN raw <= 2.5 * 256 AND v > 0
                              THEN 256.0 * ln(256.0 / v)
                              ELSE raw END, 4) AS hll_estimate
            FROM est
        """)
def q_hll_sliding_uniques(spark, sf):
    """Distinct users per 6-day SLIDING window — the non-subtractable
    query where sketch mergeability earns its keep: per-day register
    files merge via a windowed max over the register TABLE (256 rows a
    day), never a rescan of raw events."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    ev = _t(spark, sf, "events").select(
        F.expr("(ts div 1000) div 86400000000").alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    return sketch.hll_sliding_uniques(
        ev, elem_col="uid", time_bucket_col="day", window_buckets=6
    )


@query(oracle=r"""
            WITH f AS (
              SELECT doc_id, lang,
                     length(text) AS n_chars,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text),
                         '\b(the|a|of|and|to|in|is|it)\b')) AS n_stop
              FROM documents),
            g AS (
              SELECT doc_id, lang,
                     CASE WHEN n_tokens > 0
                          THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens
                          ELSE 0.0 END AS mean_token_len,
                     CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars
                          ELSE 0.0 END AS punct_ratio,
                     CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens
                          ELSE 0.0 END AS stopword_ratio
              FROM f),
            s AS (
              SELECT doc_id, lang,
                     round(least(stopword_ratio * 4, 1.0) * 0.4
                           + CASE WHEN mean_token_len BETWEEN 3 AND 10
                                  THEN 0.4 ELSE 0.0 END
                           + CASE WHEN punct_ratio < 0.2 THEN 0.2
                                  ELSE 0.0 END, 6) AS qw,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hx
              FROM g),
            b AS (
              SELECT doc_id, lang, qw,
                     ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 4096
                      + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 256
                      + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) * 16
                      + (strpos('0123456789abcdef', substr(hx, 4, 1)) - 1)
                      + 0.5) / 65536.0 AS u
              FROM s),
            keyed AS (
              SELECT doc_id, lang, qw,
                     round(pow(u, 1.0 / greatest(qw, 1e-12)), 12) AS k
              FROM b)
            SELECT doc_id, lang, qw FROM keyed
            QUALIFY row_number() OVER (PARTITION BY lang
              ORDER BY k DESC, doc_id) <= 5
        """)
def q_sample_weighted_k(spark, sf):
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    exponential keys): top-5 docs per language by u^(1/quality) —
    deterministic md5 uniforms, per-group rank window, 12-dp key
    rounding so both engines cut identically."""
    from pdf_to_vectordb_etl_spark.operators import sampling

    docs = _t(spark, sf, "documents")
    scored = ta.quality_score(docs).select(
        "doc_id", "lang", F.round("quality_score", 6).alias("qw")
    )
    out = sampling.weighted_sample_without_replacement(
        scored, k=5, weight=F.col("qw"), by="lang"
    )
    return out.select("doc_id", "lang", "qw")


@query(oracle="""
            SELECT event_id,
                   CASE WHEN json_valid(props)
                        THEN CAST(json_extract(props, '$.k') AS INT) END
                     AS k_int,
                   CASE WHEN json_valid(props)
                        THEN json_extract_string(props, '$.k') END AS k_str,
                   CASE WHEN json_valid(props)
                        THEN CAST(json_extract(props, '$.missing') AS INT) END
                     AS k_missing,
                   CASE WHEN json_valid(props) THEN
                     'OBJECT<k: ' ||
                       CASE json_type(props, '$.k')
                         WHEN 'UBIGINT' THEN 'BIGINT'
                         WHEN 'BIGINT' THEN 'BIGINT'
                         WHEN 'DOUBLE' THEN 'DOUBLE'
                         ELSE 'STRING' END || '>' END AS v_schema,
                   coalesce(CASE WHEN json_valid(props)
                                 THEN json_type(props, '$.k') = 'NULL'
                            END, FALSE)
                     AS k_is_json_null
            FROM events
        """)
def q_variant_surface(spark, sf):
    """Spark 4 VARIANT surface over the props JSON column: parse_json
    → typed variant_get extraction, schema_of_variant, null probing —
    the open-ended semi-structured path (vs from_json's fixed schema
    in json_struct_surface); try_parse_json keeps malformed rows
    null-valued rather than job-fatal. The oracle reproduces the
    VALUES from DuckDB's JSON algebra (json_valid-guarded for the
    malformed case); the binary variant encoding is the engine's own
    affair."""
    ev = _t(spark, sf, "events")
    # try_parse_json: a malformed props row yields NULLs downstream
    # (probed: schema NULL, extraction NULL, is_variant_null false)
    # instead of aborting the job — the null-not-abort contract the
    # try_surface query pins for arithmetic
    v = F.try_parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k_int"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "int").alias("k_missing"),
        F.schema_of_variant(v).alias("v_schema"),
        F.is_variant_null(F.try_variant_get(v, "$.k", "variant")).alias(
            "k_is_json_null"
        ),
    )


@query(oracle="""
            SELECT event_id,
                   CASE WHEN event_id % 5 <> 0
                        THEN value / (event_id % 5) END AS per_bucket,
                   CASE WHEN event_id <= 7
                        THEN event_id + 9223372036854775800 END AS near_overflow,
                   CAST(CASE WHEN event_id % 3 = 0 THEN 12.5 END AS DOUBLE)
                     AS parsed,
                   string_split(event_type, '_')[2] AS second_part
            FROM events
        """)
def q_try_surface(spark, sf):
    """Error-safe arithmetic surface: under ANSI mode (Spark 4's
    default) bare division/cast/element_at THROW on bad input; the
    try_* family is how a pipeline encodes 'null, not job-abort'.
    Exercised on real divide-by-zero and malformed-cast rows."""
    ev = _t(spark, sf, "events")
    denom = F.col("event_id") % 5
    return ev.select(
        "event_id",
        F.try_divide(F.col("value"), denom.cast("double")).alias("per_bucket"),
        F.try_add(F.col("event_id"), F.lit(9_223_372_036_854_775_800)).alias(
            "near_overflow"
        ),
        F.try_to_number(
            F.when(F.col("event_id") % 3 == 0, F.lit("12.5")).otherwise(
                F.lit("not-a-number")
            ),
            F.lit("99.9"),
        )
        .cast("double")
        .alias("parsed"),
        F.try_element_at(F.split(F.col("event_type"), "_"), F.lit(2)).alias(
            "second_part"
        ),
    )


@query(oracle="""
            SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
            FROM events GROUP BY event_type
        """)
def q_bitmap_distinct(spark, sf):
    """EXACT mergeable distinct counting via bitmap aggregates — the
    precise counterpart to the HLL sketch (same partial-combinable
    merge shape, bitmap OR instead of register max; costs memory
    proportional to the id domain instead of 256 registers). Spark
    side exercises bitmap_bit_position / bitmap_construct_agg /
    bitmap_count; the oracle states the semantics: COUNT(DISTINCT)."""
    ev = _t(spark, sf, "events")
    pos = F.expr("bitmap_bit_position(user_id)")
    bucket = F.expr("bitmap_bucket_number(user_id)")
    per_bucket = (
        ev.select("event_type", bucket.alias("bkt"), pos.alias("pos"))
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("n"))
    )
    return (
        per_bucket.groupBy("event_type")
        .agg(F.sum("n").alias("n_distinct_users"))
    )


@query(oracle="""
            WITH b AS (
              SELECT doc_id AS media_id,
                     CAST(16 + ((strpos('0123456789abcdef',
                              substr(md5(text), 1, 1)) - 1) * 16
                            + strpos('0123456789abcdef',
                              substr(md5(text), 2, 1)) - 1) % 240 AS INT)
                       AS width,
                     CAST(16 + ((strpos('0123456789abcdef',
                              substr(md5(text), 3, 1)) - 1) * 16
                            + strpos('0123456789abcdef',
                              substr(md5(text), 4, 1)) - 1) % 240 AS INT)
                       AS height
              FROM documents),
            p AS (
              SELECT media_id, width, height,
                     least(1.0, 96.0 / greatest(CAST(width AS DOUBLE),
                                                CAST(height AS DOUBLE)))
                       AS scale
              FROM b)
            SELECT media_id, width, height,
                   CAST(greatest(1, floor(width * scale)) AS INT)
                     AS target_width,
                   CAST(greatest(1, floor(height * scale)) AS INT)
                     AS target_height,
                   CAST(greatest(1, floor(width * scale)) AS INT) <> width
                     OR CAST(greatest(1, floor(height * scale)) AS INT)
                        <> height AS needs_resize
            FROM p
        """)
def q_mm_resize_plan(spark, sf):
    """Multimodal resize PLANNING — the native half of the resize pass:
    aspect-preserving target dims (longest side 96, never upscaled)
    from metadata alone, so the Arrow pixel kernel later touches only
    needs_resize rows. Dims derive from the same md5 fake-decoder
    contract as mm_decode_meta, so the whole plan replays in SQL."""
    from pdf_to_vectordb_etl_spark.operators import multimodal

    docs = _t(spark, sf, "documents")
    hx = F.md5("text")
    w = (16 + F.conv(F.substring(hx, 1, 2), 16, 10).cast("int") % 240).alias(
        "width"
    )
    h = (16 + F.conv(F.substring(hx, 3, 2), 16, 10).cast("int") % 240).alias(
        "height"
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.struct(w, h).alias("meta")
    )
    out = multimodal.plan_resize(media, max_side=96)
    return out.select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        "target_width",
        "target_height",
        "needs_resize",
    )


@query(oracle="""
            SELECT event_id,
                   event_id AS xml_id,
                   event_type AS xml_type,
                   round(value, 4) AS xml_v,
                   event_type AS xpath_type
            FROM events
        """)
def q_xml_surface(spark, sf):
    """XML ingestion surface (Spark 4 native from_xml + xpath): a
    per-row XML record built from event fields, parsed back through an
    explicit schema and probed with xpath — the feed-ingestion path for
    XML drops. The oracle is a semantic twin (DuckDB has no XML; the
    VALUES round-trip to the original fields is the contract)."""
    ev = _t(spark, sf, "events")
    xml = F.concat(
        F.lit('<rec id="'),
        F.col("event_id"),
        F.lit('"><type>'),
        F.col("event_type"),
        F.lit("</type><v>"),
        F.round("value", 4),
        F.lit("</v></rec>"),
    )
    parsed = F.from_xml(
        xml, "struct<_id: long, type: string, v: double>"
    )
    return ev.select(
        "event_id",
        parsed.getField("_id").alias("xml_id"),
        parsed.getField("type").alias("xml_type"),
        parsed.getField("v").alias("xml_v"),
        F.expr(
            "xpath_string(concat('<r><t>', event_type, '</t></r>'), 'r/t/text()')"
        ).alias("xpath_type"),
    )


@query(oracle=r"""
            WITH base AS (
              SELECT doc_id,
                     (string_split_regex(lower(text), '\s+'))[1:5] AS toks
              FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents)
            SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS tok
            FROM base, unnest(generate_series(1, len(toks))) AS u(i)
        """)
def q_lateral_surface(spark, sf):
    """LATERAL VIEW surface: explode + posexplode + OUTER variant in
    SQL syntax — the per-row table-generator join every nested-data
    pipeline leans on. OUTER keeps rows whose array is empty (here:
    docs with < 3 tokens still appear with NULL trigram)."""
    _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    ).createOrReplaceTempView("docs_lat")
    return spark.sql(r"""
        SELECT doc_id, pos, tok
        FROM (
          SELECT doc_id, slice(split(lower(text), '\\s+'), 1, 5) AS toks
          FROM docs_lat
        )
        LATERAL VIEW OUTER posexplode(toks) t AS pos, tok
    """)


@query(oracle=r"""
            WITH w AS (
              SELECT doc_id AS id,
                     string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            toks AS (
              SELECT id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w)-2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
              FROM w),
            rare AS (
              SELECT tok FROM toks GROUP BY tok
              HAVING count(*) BETWEEN 2 AND 3),
            post AS (SELECT id, tok FROM toks JOIN rare USING (tok)),
            e AS MATERIALIZED (
              SELECT DISTINCT a.id AS a, b.id AS b
              FROM post a JOIN post b ON a.tok = b.tok AND a.id < b.id),
            adj AS MATERIALIZED (
              SELECT a AS src, b AS dst FROM e
              UNION ALL SELECT b AS src, a AS dst FROM e),
            v0 AS MATERIALIZED (
              SELECT doc_id AS node FROM documents WHERE doc_id % 50 = 0),
            f1 AS MATERIALIZED (
              SELECT DISTINCT adj.dst AS node
              FROM adj JOIN v0 ON adj.src = v0.node
              WHERE adj.dst NOT IN (SELECT node FROM v0)),
            v1 AS MATERIALIZED (
              SELECT node FROM v0 UNION ALL SELECT node FROM f1),
            f2 AS MATERIALIZED (
              SELECT DISTINCT adj.dst AS node
              FROM adj JOIN f1 ON adj.src = f1.node
              WHERE adj.dst NOT IN (SELECT node FROM v1)),
            v2 AS MATERIALIZED (
              SELECT node FROM v1 UNION ALL SELECT node FROM f2),
            f3 AS MATERIALIZED (
              SELECT DISTINCT adj.dst AS node
              FROM adj JOIN f2 ON adj.src = f2.node
              WHERE adj.dst NOT IN (SELECT node FROM v2))
            SELECT node AS doc_id, CAST(0 AS INT) AS hops FROM v0
            UNION ALL SELECT node, CAST(1 AS INT) FROM f1
            UNION ALL SELECT node, CAST(2 AS INT) FROM f2
            UNION ALL SELECT node, CAST(3 AS INT) FROM f3
        """)
def q_graph_khop(spark, sf):
    """Multi-source BFS to depth 3 over the shared-rare-token doc
    graph (same edge generator as graph_triangles/label_spread): every
    document within 3 hops of the seed set (doc_id % 50 == 0) with its
    minimum hop distance — the contamination blast-radius /
    crawl-frontier primitive. Per hop: one frontier⋈adjacency
    equi-join + distinct + anti-join vs visited; work is
    O(frontier-adjacent edges), see graph.k_hop_reachability."""
    from pdf_to_vectordb_etl_spark.operators import graph

    docs = _t(spark, sf, "documents")
    edges = graph.shared_token_edges(docs, min_df=2, max_df=3)
    seeds = docs.filter(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("id")
    )
    out = graph.k_hop_reachability(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        seeds,
        max_hops=3,
        directed=False,
    )
    return out.select(F.col("node").alias("doc_id"), "hops")


@query(oracle="""
            WITH s8 AS MATERIALIZED (
              SELECT doc_id,
                     arg_max(s, md5(CAST(doc_id AS VARCHAR) || '#'
                                    || CAST(s AS VARCHAR))) AS shard8
              FROM documents, (SELECT unnest(range(8)) AS s)
              GROUP BY doc_id),
            s9 AS MATERIALIZED (
              SELECT doc_id,
                     arg_max(s, md5(CAST(doc_id AS VARCHAR) || '#'
                                    || CAST(s AS VARCHAR))) AS shard9
              FROM documents, (SELECT unnest(range(9)) AS s)
              GROUP BY doc_id),
            j AS (SELECT shard8, shard9 FROM s8 JOIN s9 USING (doc_id))
            SELECT shard8 AS shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_moved,
                   round(CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*), 4) AS moved_frac
            FROM j GROUP BY shard8
        """)
def q_rendezvous_shard(spark, sf):
    """Rendezvous (highest-random-weight) sharding: stable doc→shard
    assignment where growing the shard count 8→9 moves only the ~1/9
    of keys the new shard wins — vs ~8/9 under mod-N. Reports, per
    8-shard bucket: row count, how many rows a 9-shard layout would
    steal, and the moved fraction. Narrow (pure per-row argmax
    expression, no shuffle before the final stats agg); the md5
    argmax replays byte-identically in DuckDB via arg_max."""
    from pdf_to_vectordb_etl_spark.operators import sampling

    d = _t(spark, sf, "documents")
    j = d.select(
        sampling.rendezvous_shard("doc_id", 8).cast("long").alias("shard8"),
        sampling.rendezvous_shard("doc_id", 9).cast("long").alias("shard9"),
    )
    moved = F.sum(
        (F.col("shard8") != F.col("shard9")).cast("long")
    ).alias("n_moved")
    return j.groupBy(F.col("shard8").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        moved,
        F.round(
            F.sum((F.col("shard8") != F.col("shard9")).cast("long"))
            / F.count("*"),
            4,
        ).alias("moved_frac"),
    )


def _normalize_oracle_sql() -> str:
    """DuckDB replay of webcorpus.normalize_text on the accent-injected
    80-char prefix. The fold table is injected from the module
    constants (single source of truth — the from/to strings can never
    drift between engines); NBSP is chr(160) on the SQL side and a
    ``\\u00a0`` literal on the Spark side."""
    from pdf_to_vectordb_etl_spark.operators.webcorpus import (
        ACCENT_FROM,
        ACCENT_TO,
    )

    def fold(x: str) -> str:
        return (
            "trim(regexp_replace(replace(lower(translate("
            f"{x}, '{ACCENT_FROM}', '{ACCENT_TO}')), chr(160), ' '), "
            r"'\s+', ' ', 'g'))"
        )

    return f"""
        WITH p AS (
          SELECT doc_id, substr(text, 1, 80) AS prefix FROM documents),
        a AS (
          SELECT doc_id, prefix,
                 translate(prefix, 'aeiouAEIOU', 'áèîõüÀÉÎÕÜ') AS acc
          FROM p),
        d AS (
          SELECT doc_id, prefix, acc,
                 regexp_replace(acc, ' ', chr(160) || ' ', 'g') AS dirty
          FROM a)
        SELECT doc_id,
               {fold('dirty')} AS norm,
               CAST(length(acc) - length(translate(acc, '{ACCENT_FROM}', ''))
                    AS BIGINT) AS n_accented,
               ({fold('dirty')} = {fold('prefix')}) AS roundtrip_ok
        FROM d
    """

@query(oracle=_normalize_oracle_sql())
def q_text_normalize(spark, sf):
    """Portable text normalization (the dedup/shingle key form):
    accent folding via one codepoint translate table, NBSP→space,
    lowercase, whitespace-run collapse. The dirty input is
    synthesized deterministically from each doc's 80-char prefix
    (accent-injected + NBSP-padded, the web_clean precedent), so the
    fold is exercised on every row even though the synthetic corpus
    is ASCII; roundtrip_ok pins fold(inject(x)) == normalize(x)."""
    from pdf_to_vectordb_etl_spark.operators import webcorpus

    d = _t(spark, sf, "documents")
    prefix = F.substring(F.col("text"), 1, 80)
    acc = F.translate(prefix, "aeiouAEIOU", "áèîõüÀÉÎÕÜ")
    dirty = F.regexp_replace(acc, " ", "\u00a0 ")  # NBSP + space run
    return d.select(
        "doc_id",
        webcorpus.normalize_text(dirty).alias("norm"),
        (
            F.length(acc)
            - F.length(F.translate(acc, webcorpus.ACCENT_FROM, ""))
        ).cast("long").alias("n_accented"),
        (
            webcorpus.normalize_text(dirty) == webcorpus.normalize_text(prefix)
        ).alias("roundtrip_ok"),
    )


# prefix filtering has no false negatives, so the oracle verifies
# the exact-Jaccard pair set directly (threshold 0.8 — the regime
# the prefix index is for; same SQL shape as dedup_ngram_jaccard)
@query(oracle=f"""
        WITH sh AS (
          SELECT doc_id, {_SHINGLES} AS shingles
          FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents)),
        ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 count(*) * 1.0 / (any_value(a.n) + any_value(b.n) - count(*)) AS j
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT id_a, id_b, round(j, 4) AS jaccard FROM pairs WHERE j >= 0.8
    """)
def q_dedup_prefix_filter(spark, sf):
    """Near-dup pairs by 3-gram Jaccard >= 0.8 via AllPairs/PPJoin
    prefix filtering: only each doc's |x|-ceil(t|x|)+1 rarest shingles
    (~20% at t=0.8) enter the candidate self-join — common shingles
    sort last and never join, so the Σdf² hot-key fan-out of the full
    inverted index drops ~25×. Then a size-ratio prune and exact
    verification on candidates only. t=0.8 is the regime the filter is
    FOR: at t=0.5 the prefix is half the set and the verify re-join
    dominates (measured in SCALE.md — the baseline wins there). No
    false negatives, so the oracle verifies exact Jaccard directly."""
    docs = _t(spark, sf, "documents")
    out = dedup.prefix_filter_jaccard_pairs(docs, threshold=0.8, n=3)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


@query(oracle=r"""
            WITH toks AS (
              SELECT source,
                     unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            t2 AS (SELECT source, tok FROM toks WHERE tok <> ''),
            d AS (
              SELECT DISTINCT source,
                     (('0x' || substr(md5(tok), 1, 12))::BIGINT + 0.5)
                       / 281474976710656.0 AS u
              FROM t2),
            sk AS (
              SELECT source, u FROM d
              QUALIFY row_number() OVER (PARTITION BY source ORDER BY u)
                <= 128),
            est AS (
              SELECT source,
                     CASE WHEN count(*) < 128
                          THEN CAST(count(*) AS DOUBLE)
                          ELSE 127.0 / max(u) END AS e
              FROM sk GROUP BY source),
            ex AS (
              SELECT source, count(DISTINCT tok) AS exact_distinct
              FROM t2 GROUP BY source)
            SELECT est.source,
                   round(e, 4) AS est_distinct,
                   exact_distinct,
                   round(abs(e - exact_distinct) * 1.0 / exact_distinct, 4)
                     AS rel_err
            FROM est JOIN ex ON est.source = ex.source
        """)
def q_kmv_distinct(spark, sf):
    """KMV (k-minimum-values) distinct sketch, k=128: per source, the
    128 smallest md5 tags over distinct tokens; estimate (k-1)/u_k,
    exact when a group holds < k tags. Unlike HLL the sketch rows are
    exact values — the whole sketch (not just the estimate) replays
    byte-identically in DuckDB — and the sketch doubles as a uniform
    sample of the distinct domain. Distinct agg + per-group
    WindowGroupLimit; never a single-partition window."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    sk = sketch.kmv_bottomk(toks, "tok", k=128, by="source")
    est = sketch.kmv_estimate(sk, k=128, by="source")
    exact = toks.groupBy("source").agg(
        F.count_distinct("tok").alias("exact_distinct")
    )
    return est.join(exact, "source").select(
        "source",
        F.round("est_distinct", 4).alias("est_distinct"),
        "exact_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )


# streaming CMS registers over identical rows == the batch sketch,
# so the batch CMS estimate SQL is the parity oracle
@query(oracle_of="cms_heavy_hitters")
def q_t11_stream_cms(spark, sf):
    """T11 — streaming Count-Min frequency sketching: the counter file
    maintained as a streaming sum-aggregate (associative increments —
    state bounded at depth×width rows, batch-split-invariant), then
    point estimates for the exact top-15 tokens over the snapshot.
    Over identical rows the snapshot equals the batch sketch, so the
    batch CMS SQL (cms_heavy_hitters) is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import sketch
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_countmin_registers,
        table_stream,
    )

    stream = table_stream(spark, sf, "documents")
    regs = stream_countmin_registers(stream)
    cms = drain_to_memory(regs, "t11_stream_cms_regs")
    docs = _t(spark, sf, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "tok")
        .limit(15)
    )
    est = sketch.countmin_estimate(top.select("tok"), cms, "tok")
    return top.join(est, top["tok"] == est["elem"]).select(
        "tok",
        "exact_n",
        "est_n",
        (F.col("est_n") >= F.col("exact_n")).alias("no_underestimate"),
    )


@query(oracle="""
            WITH o AS (
              SELECT event_id, event_type,
                     CAST(floor(value * 10000) AS BIGINT) AS vi
              FROM events),
            n AS (
              SELECT event_id, event_type,
                     CASE WHEN event_id % 101 = 0
                          THEN CAST(floor((value + 1) * 10000) AS BIGINT)
                          ELSE CAST(floor(value * 10000) AS BIGINT) END AS vi
              FROM events WHERE event_id % 103 <> 0
              UNION ALL
              SELECT event_id + 10000000, event_type,
                     CAST(floor(value * 10000) AS BIGINT)
              FROM events WHERE event_id % 107 = 0)
            SELECT coalesce(o.event_id, n.event_id) AS event_id,
                   CASE WHEN o.event_id IS NULL THEN 'added'
                        WHEN n.event_id IS NULL THEN 'removed'
                        ELSE 'changed' END AS change_type
            FROM o FULL JOIN n
              ON o.event_id = n.event_id
            WHERE o.event_id IS NULL OR n.event_id IS NULL
               OR o.event_type <> n.event_type OR o.vi <> n.vi
        """)
def q_merkle_diff(spark, sf):
    """Anti-entropy snapshot reconciliation: two-level Merkle compare
    — one partial-combinable XOR-checksum agg per snapshot (4096 rows
    out regardless of table size), fingerprint join to localize
    disagreeing buckets, row-level full-outer diff over ONLY those
    buckets. Output ≡ the one-shot snapshot_diff (no false negatives:
    a changed row always changes its bucket's fingerprint), so the
    oracle verifies the changelog directly. The 'new' snapshot is
    synthesized deterministically: +1 value drift on id%101, deletes
    on id%103, inserts cloned to id+10M on id%107."""
    from pdf_to_vectordb_etl_spark.operators import cdc

    ev = _t(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000).cast("long").alias("vi"),
        "value",
    )
    old = ev.select("event_id", "event_type", "vi")
    base = ev.filter(F.col("event_id") % 103 != 0).select(
        "event_id",
        "event_type",
        F.when(
            F.col("event_id") % 101 == 0,
            F.floor((F.col("value") + 1) * 10000).cast("long"),
        )
        .otherwise(F.col("vi"))
        .alias("vi"),
    )
    added = ev.filter(F.col("event_id") % 107 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "event_type",
        "vi",
    )
    new = base.unionByName(added)
    return cdc.merkle_diff(
        old, new, ["event_id"], ["event_type", "vi"], n_buckets=4096
    )


@query(oracle="""
            SELECT 'event_id' AS determinant, 'event_type' AS dependent,
                   CAST(count(*) AS BIGINT) AS n_groups,
                   CAST(coalesce(sum(_n - _mode), 0) AS BIGINT) AS n_violations,
                   coalesce(sum(_n - _mode), 0) = 0 AS holds
            FROM (SELECT event_id, sum(c) AS _n, max(c) AS _mode
                  FROM (SELECT event_id, event_type, count(*) AS c
                        FROM events GROUP BY 1, 2)
                  GROUP BY event_id)
            UNION ALL
            SELECT 'user_id', 'event_type',
                   CAST(count(*) AS BIGINT),
                   CAST(coalesce(sum(_n - _mode), 0) AS BIGINT),
                   coalesce(sum(_n - _mode), 0) = 0
            FROM (SELECT user_id, sum(c) AS _n, max(c) AS _mode
                  FROM (SELECT user_id, event_type, count(*) AS c
                        FROM events GROUP BY 1, 2)
                  GROUP BY user_id)
            UNION ALL
            SELECT 'event_type', 'user_id',
                   CAST(count(*) AS BIGINT),
                   CAST(coalesce(sum(_n - _mode), 0) AS BIGINT),
                   coalesce(sum(_n - _mode), 0) = 0
            FROM (SELECT event_type, sum(c) AS _n, max(c) AS _mode
                  FROM (SELECT event_type, user_id, count(*) AS c
                        FROM events GROUP BY 1, 2)
                  GROUP BY event_type)
        """)
def q_fd_profile(spark, sf):
    """Functional-dependency profiling (g3 error): for candidate
    det→dep pairs, the minimum number of row deletions for the FD to
    hold — 0 for the key-determined pair (event_id→event_type),
    positive for behavioral pairs. Two partial-combinable aggs per
    pair, no windows or joins; see profiling.fd_violations."""
    from pdf_to_vectordb_etl_spark.operators import profiling

    ev = _t(spark, sf, "events").select("event_id", "user_id", "event_type")
    return profiling.fd_violations(
        ev,
        [
            ("event_id", "event_type"),
            ("user_id", "event_type"),
            ("event_type", "user_id"),
        ],
    )


@query(oracle=r"""
            WITH w AS (
              SELECT doc_id AS id,
                     string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                                  ' ') AS w
              FROM documents),
            toks AS (
              SELECT id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w)-2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
              FROM w),
            rare AS (
              SELECT tok FROM toks GROUP BY tok
              HAVING count(*) BETWEEN 2 AND 3),
            post AS (SELECT id, tok FROM toks JOIN rare USING (tok)),
            e AS MATERIALIZED (
              SELECT DISTINCT a.id AS a, b.id AS b
              FROM post a JOIN post b ON a.tok = b.tok AND a.id < b.id),
            edges AS MATERIALIZED (
              SELECT a, b FROM e UNION SELECT b, a FROM e),
            nodes AS (SELECT DISTINCT a AS id FROM edges),
            reach AS (
              WITH RECURSIVE r(id, m) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e2.a, r.m FROM edges e2 JOIN r ON e2.b = r.id)
              SELECT id, min(m) AS cluster_id FROM r GROUP BY id)
            SELECT id AS doc_id, cluster_id FROM reach
        """)
def q_graph_cc_star(spark, sf):
    """Connected components by large-star/small-star contraction over
    the shared-rare-token doc graph — O(log² n) rounds on ANY topology
    (dedup.cluster_pairs' min-label propagation is O(diameter) and
    now raises on non-convergence; star contraction is the
    chain-safe path). Label = component-minimum doc_id; oracle is a
    DuckDB recursive-CTE reachability fixpoint, so parity holds
    whatever the round count."""
    from pdf_to_vectordb_etl_spark.operators import graph

    docs = _t(spark, sf, "documents")
    edges = graph.shared_token_edges(docs, min_df=2, max_df=3)
    out = graph.connected_components_star(edges)
    return out.select(F.col("id").alias("doc_id"), "cluster_id")


@query(oracle="""
            WITH d AS (
              SELECT lang, source, n_chars // 100 AS size_band
              FROM documents),
            g AS (
              SELECT lang, source, size_band, count(*) AS n
              FROM d GROUP BY 1, 2, 3)
            SELECT CAST(count(*) AS BIGINT) AS n_classes,
                   CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
                     AS classes_under_k,
                   CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
                     AS rows_under_k,
                   min(n) AS min_class_size,
                   min(n) >= 5 AS k_anonymous,
                   floor(sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 1.0
                         / sum(n) * 10000) / 10000 AS suppression_frac
            FROM g
        """)
def q_k_anonymity(spark, sf):
    """k-anonymity (k=5) risk profile over quasi-identifiers
    (lang, source, n_chars//100): equivalence-class sizes from one
    hash agg, summary fold on top — re-identifiable rows, the k the
    data actually satisfies, and the suppression fraction needed."""
    from pdf_to_vectordb_etl_spark.operators import quality_checks

    d = _t(spark, sf, "documents").select(
        "lang", "source", (F.col("n_chars") / 100).cast("long").alias("size_band")
    )
    return quality_checks.k_anonymity_report(
        d, ["lang", "source", "size_band"], k=5
    )


@query(oracle=f"""
            SELECT doc_id,
                   substr(md5('canary!' || CAST(doc_id AS VARCHAR)), 1, 16)
                     AS canary
            FROM documents
            WHERE substr(md5('canary#' || CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{sampling._threshold(0.05)}'
        """)
def q_canary_roundtrip(spark, sf):
    """Memorization-audit canaries: a deterministic md5-selected ~5%
    of documents get a unique <canary:hash16> marker appended
    (layout-invariant — the set re-derives from ids alone, no stored
    state), then the detector extracts every marker back. Output is
    the (doc_id, canary) ground-truth table a secret-sharer
    memorization eval scores against."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    injected = curation.inject_canaries(docs, rate=0.05)
    return curation.detect_canaries(injected)


@query(oracle="""
            WITH daily AS (
              SELECT event_type,
                     epoch_us(ts) // 86400000000 AS day,
                     CAST(count(*) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2),
            ma AS (
              SELECT event_type, day, v,
                     avg(v) OVER w AS a,
                     count(v) OVER w AS nw
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            tr AS (
              SELECT event_type, day, v,
                     CASE WHEN nw = 7 THEN a END AS trend,
                     day % 7 AS phase
              FROM ma),
            prof AS (
              SELECT event_type, phase, avg(v - trend) AS praw
              FROM tr WHERE trend IS NOT NULL
              GROUP BY event_type, phase),
            ctr AS (
              SELECT event_type, avg(praw) AS pmean
              FROM prof GROUP BY event_type),
            seas AS (
              SELECT prof.event_type, phase, praw - pmean AS seasonal
              FROM prof JOIN ctr ON prof.event_type = ctr.event_type)
            SELECT tr.event_type, day, v,
                   round(trend, 6) AS trend,
                   round(coalesce(seasonal, 0.0), 6) AS seasonal,
                   round(v - trend - coalesce(seasonal, 0.0), 6) AS remainder
            FROM tr LEFT JOIN seas
              ON tr.event_type = seas.event_type AND tr.phase = seas.phase
        """)
def q_seasonal_decompose(spark, sf):
    """Classical additive seasonal decomposition (2×MA trend, weekly
    period) of the daily event-count series per event_type:
    value = trend + seasonal + remainder. One ROWS window per key +
    one (key, phase) agg broadcast back — parallel across keys, no
    recurrence; edge days without a full MA window carry NULL trend."""
    ev = _t(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("(ts div 1000) div 86400000000").alias("day"),
    ).agg(F.count("*").cast("double").alias("v"))
    out = aggregates.seasonal_decompose(
        daily, value_col="v", time_col="day", by="event_type", period=7
    )
    return out.select(
        "event_type", "day", "v", "trend", "seasonal", "remainder"
    )


@query(oracle=r"""
            WITH toks AS (
              SELECT source,
                     unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            t2 AS (SELECT source, tok FROM toks WHERE tok <> ''),
            d AS (
              SELECT DISTINCT source,
                     (('0x' || substr(md5(tok), 1, 12))::BIGINT + 0.5)
                       / 281474976710656.0 AS u
              FROM t2),
            sk AS (
              SELECT source, u FROM d
              QUALIFY row_number() OVER (PARTITION BY source ORDER BY u)
                <= 128)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_tags,
                   round(CASE WHEN count(*) < 128
                              THEN CAST(count(*) AS DOUBLE)
                              ELSE 127.0 / max(u) END, 4) AS est_distinct
            FROM sk GROUP BY source
        """)
def q_t12_stream_kmv(spark, sf):
    """T12 — streaming KMV distinct sketch: per-source bottom-128 md5
    tags as custom applyInPandasWithState state (≤ k doubles per key,
    bounded forever). Min-k over a set union is associative and
    commutative, so ANY micro-batch split converges to the batch
    sketch — the batch KMV SQL is the parity oracle. The final row per
    key is the max-n_tags row (n_tags is non-decreasing)."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )
    from pdf_to_vectordb_etl_spark.streaming.stateful import stream_kmv_bottomk

    stream = table_stream(spark, sf, "documents")
    est = stream_kmv_bottomk(stream, k=128)
    snap = drain_to_memory(est, "t12_stream_kmv_out", mode="update")
    return (
        snap.groupBy("key")
        .agg(
            F.max_by(F.struct("n_tags", "est_distinct"), "n_tags").alias("_s")
        )
        .select(
            F.col("key").alias("source"),
            F.col("_s.n_tags").alias("n_tags"),
            F.col("_s.est_distinct").alias("est_distinct"),
        )
    )


@query(oracle="""
            WITH daily AS (
              SELECT event_type,
                     epoch_us(ts) // 86400000000 AS day,
                     CAST(count(*) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2),
            st AS (
              SELECT event_type, avg(v) AS mu, stddev_pop(v) AS sd
              FROM daily GROUP BY event_type),
            z AS (
              SELECT d.event_type, day, v,
                     (CASE WHEN sd > 0 THEN (v - mu) / sd ELSE 0.0 END)
                       - 0.5 AS zp,
                     -(CASE WHEN sd > 0 THEN (v - mu) / sd ELSE 0.0 END)
                       - 0.5 AS zn
              FROM daily d JOIN st ON d.event_type = st.event_type),
            m AS (
              SELECT event_type, day, v,
                     sum(zp) OVER w AS mp,
                     sum(zn) OVER w AS mn
              FROM z
              WINDOW w AS (PARTITION BY event_type ORDER BY day
                           ROWS UNBOUNDED PRECEDING)),
            s AS (
              SELECT event_type, day, v,
                     mp - least(min(mp) OVER w, 0.0) AS sp,
                     mn - least(min(mn) OVER w, 0.0) AS sn
              FROM m
              WINDOW w AS (PARTITION BY event_type ORDER BY day
                           ROWS UNBOUNDED PRECEDING))
            SELECT event_type, day, v,
                   round(sp, 6) AS s_pos,
                   round(sn, 6) AS s_neg,
                   sp > 3.0 AS alarm_up,
                   sn > 3.0 AS alarm_down
            FROM s
        """)
def q_cusum_changepoints(spark, sf):
    """Two-sided CUSUM mean-shift detection on the daily event-count
    series per event_type. The max(0, ·) recurrence is rewritten as
    cumsum − running-min (closed windowed form), so the detector is
    one per-key window — no UDF, no recursion, parallel across keys."""
    ev = _t(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("(ts div 1000) div 86400000000").alias("day"),
    ).agg(F.count("*").cast("double").alias("v"))
    return aggregates.cusum_changepoints(
        daily, value_col="v", by="event_type", order_cols=("day",),
        slack=0.5, threshold=3.0,
    )


@query(oracle="""
            WITH p AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 x -> len(x) > 0) AS toks
              FROM documents),
            d AS (
              SELECT doc_id, len(toks) AS dl,
                     list_filter(toks, t -> t IN ('merge', 'window', 'data')) AS qt
              FROM p),
            t AS (SELECT doc_id, dl, unnest(qt) AS term FROM d),
            tf AS (SELECT doc_id, term, any_value(dl) AS dl, count(*) AS tf
                   FROM t GROUP BY 1, 2),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            c AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
            s AS (
              SELECT tf.doc_id,
                     ln((c.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1)
                     * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl)) AS sc
              FROM tf JOIN dft USING (term) CROSS JOIN c),
            fb AS (
              SELECT doc_id, round(sum(sc), 4) AS score
              FROM s GROUP BY doc_id
              ORDER BY round(sum(sc), 4) DESC, doc_id
              LIMIT 10),
            alltok AS (SELECT doc_id AS id, unnest(toks) AS term FROM p),
            cdf AS (
              SELECT term, count(*) AS df
              FROM (SELECT DISTINCT id, term FROM alltok) GROUP BY term),
            fbtf AS (
              SELECT term, count(*) AS fb_tf
              FROM alltok JOIN fb ON alltok.id = fb.doc_id
              WHERE len(term) >= 3
                AND term NOT IN ('merge', 'window', 'data')
              GROUP BY term),
            nd AS (SELECT count(*) AS n FROM documents)
            SELECT term,
                   CAST(fb_tf AS BIGINT) AS fb_tf,
                   CAST(df AS BIGINT) AS df,
                   round(fb_tf * ln(CAST(n AS DOUBLE) / df), 6) AS weight
            FROM fbtf JOIN cdf USING (term) CROSS JOIN nd
            ORDER BY weight DESC, term
            LIMIT 5
        """)
def q_query_expansion(spark, sf):
    """Pseudo-relevance-feedback (RM3-class) expansion for the BM25
    demo query: top-10 feedback docs → candidate terms weighted by
    feedback-tf × corpus-idf → 5 best new terms. Feedback ids
    broadcast; term selection is TakeOrdered on the rounded weight."""
    from pdf_to_vectordb_etl_spark.operators import textsearch

    docs = _t(spark, sf, "documents")
    return textsearch.expand_query(
        docs, ["merge", "window", "data"], fb_k=10, n_expansion=5
    )


_RL_FIELDS = [
    # (label, m = P(agree|match), u = P(agree|non-match))
    ("name", 0.95, 0.001),
    ("bal", 0.90, 0.01),
    ("seg", 0.95, 0.2),
]


def _record_linkage_oracle_sql() -> str:
    """DuckDB replay with the SAME Python-computed log-weight literals
    the operator injects (round 6) — no libm inside either engine."""
    import math

    w = {}
    for label, m, u in _RL_FIELDS:
        w[f"{label}_a"] = round(math.log(m / u), 6)
        w[f"{label}_d"] = round(math.log((1 - m) / (1 - u)), 6)
    return f"""
        WITH base AS (
          SELECT c_custkey AS id, c_name, c_nationkey, c_acctbal,
                 c_mktsegment
          FROM customer),
        clones AS (
          SELECT id + 1000000 AS id,
                 substr(c_name, 1, length(c_name) - 1) || 'X' AS c_name,
                 c_nationkey, c_acctbal + 0.005 AS c_acctbal, c_mktsegment
          FROM base WHERE id % 7 = 0),
        decoys AS (
          SELECT id + 2000000 AS id,
                 'Unknown#' || CAST(id AS VARCHAR) AS c_name,
                 c_nationkey, c_acctbal + 500.0 AS c_acctbal,
                 'DECOY' AS c_mktsegment
          FROM base WHERE id % 11 = 0),
        dirty AS (SELECT * FROM clones UNION ALL SELECT * FROM decoys),
        j AS (
          SELECT b.id AS id_l, d.id AS id_r,
                 levenshtein(b.c_name, d.c_name) <= 2 AS agree_name,
                 abs(b.c_acctbal - d.c_acctbal) <= 0.01 AS agree_bal,
                 b.c_mktsegment = d.c_mktsegment AS agree_seg
          FROM base b JOIN dirty d ON b.c_nationkey = d.c_nationkey),
        s AS (
          SELECT id_l, id_r,
                 round((CASE WHEN agree_name THEN CAST({w["name_a"]} AS DOUBLE)
                             ELSE CAST({w["name_d"]} AS DOUBLE) END)
                     + (CASE WHEN agree_bal THEN CAST({w["bal_a"]} AS DOUBLE)
                             ELSE CAST({w["bal_d"]} AS DOUBLE) END)
                     + (CASE WHEN agree_seg THEN CAST({w["seg_a"]} AS DOUBLE)
                             ELSE CAST({w["seg_d"]} AS DOUBLE) END), 4)
                   AS score,
                 agree_name, agree_bal, agree_seg
          FROM j)
        SELECT * FROM s WHERE score >= 10.0
    """

@query(oracle=_record_linkage_oracle_sql())
def q_record_linkage(spark, sf):
    """Fellegi–Sunter record linkage on a planted dirty feed: ~1/7 of
    customers re-arrive with a typo'd name (levenshtein 1), a 0.005
    balance drift, same segment; ~1/11 arrive as decoys (alien name,
    +500 balance, foreign segment). Blocking on nation bounds the
    candidate join; three field comparators contribute
    Python-computed log(m/u) literal weights (engine-portable);
    threshold 10 links exactly the full-agreement clones — systematic
    Customer#NNN names make levenshtein≤2 alone ambiguous, which is
    the point of summing field evidence."""
    from pdf_to_vectordb_etl_spark.operators import joins as jn

    c = _t(spark, sf, "customer")
    base = c.select(
        F.col("c_custkey").alias("id"),
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    clones = base.filter(F.col("id") % 7 == 0).select(
        (F.col("id") + 1_000_000).alias("id"),
        F.expr("substr(c_name, 1, length(c_name) - 1) || 'X'").alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") + 0.005).alias("c_acctbal"),
        "c_mktsegment",
    )
    decoys = base.filter(F.col("id") % 11 == 0).select(
        (F.col("id") + 2_000_000).alias("id"),
        F.concat(F.lit("Unknown#"), F.col("id").cast("string")).alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") + 500.0).alias("c_acctbal"),
        F.lit("DECOY").alias("c_mktsegment"),
    )
    dirty = clones.unionByName(decoys)
    fields = [
        (
            "name",
            lambda j: F.levenshtein("c_name_l", "c_name_r") <= 2,
            _RL_FIELDS[0][1],
            _RL_FIELDS[0][2],
        ),
        (
            "bal",
            lambda j: F.abs(F.col("c_acctbal_l") - F.col("c_acctbal_r"))
            <= 0.01,
            _RL_FIELDS[1][1],
            _RL_FIELDS[1][2],
        ),
        (
            "seg",
            lambda j: F.col("c_mktsegment_l") == F.col("c_mktsegment_r"),
            _RL_FIELDS[2][1],
            _RL_FIELDS[2][2],
        ),
    ]
    return jn.record_linkage(
        base, dirty, ["c_nationkey"], fields, id_col="id", threshold=10.0
    )


@query(oracle="""
            WITH docs AS (SELECT DISTINCT doc_id FROM documents),
            pts AS (
              SELECT doc_id AS id,
                     -60.0 + ((('0x' || substr(md5('lat#' ||
                       CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 0.5)
                       / 281474976710656.0) * 120.0 AS lat,
                     -180.0 + ((('0x' || substr(md5('lon#' ||
                       CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 0.5)
                       / 281474976710656.0) * 360.0 AS lon
              FROM docs),
            cells AS (
              SELECT id, lat, lon,
                     CAST(floor(lat / 6.0) AS BIGINT) AS cx,
                     CAST(floor(lon / 6.0) AS BIGINT) AS cy
              FROM pts),
            a AS (
              SELECT id AS id_a, lat AS lat_a, lon AS lon_a,
                     cx + dx AS nx, cy + dy AS ny
              FROM cells,
                   (SELECT unnest([-1, 0, 1]) AS dx) dxs,
                   (SELECT unnest([-1, 0, 1]) AS dy) dys),
            b AS (
              SELECT id AS id_b, lat AS lat_b, lon AS lon_b,
                     cx AS nx, cy AS ny
              FROM cells),
            cand AS (
              SELECT id_a, id_b, lat_a, lon_a, lat_b, lon_b
              FROM a JOIN b USING (nx, ny)
              WHERE id_a < id_b),
            d AS (
              SELECT id_a, id_b,
                     round(2 * 6371.0 * asin(sqrt(
                       sin(radians(lat_b - lat_a) / 2)
                         * sin(radians(lat_b - lat_a) / 2)
                       + cos(radians(lat_a)) * cos(radians(lat_b))
                         * sin(radians(lon_b - lon_a) / 2)
                         * sin(radians(lon_b - lon_a) / 2))), 6) AS dist_km
              FROM cand)
            SELECT id_a, id_b, dist_km FROM d WHERE dist_km <= 300.0
        """)
def q_spatial_neighbors(spark, sf):
    """Spatial neighbor join: users get deterministic md5-derived
    (lat, lon) positions; all pairs within 100 km via 2°-cell binning
    (3×3 neighborhood equi-join, bounded by cell occupancy — never
    all-pairs) and exact haversine verification rounded to 6 dp."""
    from pdf_to_vectordb_etl_spark.operators import spatial

    docs = _t(spark, sf, "documents").select("doc_id").distinct()

    def u(tag):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag), F.col("doc_id").cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("double")
            + 0.5
        ) / F.lit(float(16**12))

    pts = docs.select(
        F.col("doc_id").alias("id"),
        (F.lit(-60.0) + u("lat#") * 120.0).alias("lat"),
        (F.lit(-180.0) + u("lon#") * 360.0).alias("lon"),
    )
    return spatial.neighbor_pairs(pts, radius_km=300.0, cell_deg=6.0)


@query(oracle="""
            WITH docs AS (SELECT DISTINCT doc_id FROM documents),
            pts AS (
              SELECT doc_id AS id,
                     -60.0 + ((('0x' || substr(md5('lat#' ||
                       CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 0.5)
                       / 281474976710656.0) * 120.0 AS lat,
                     -180.0 + ((('0x' || substr(md5('lon#' ||
                       CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 0.5)
                       / 281474976710656.0) * 360.0 AS lon
              FROM docs),
            cells AS (
              SELECT id, lat, lon,
                     CAST(floor(lat / 6.0) AS BIGINT) AS cx,
                     CAST(floor(lon / 6.0) AS BIGINT) AS cy
              FROM pts),
            a AS (
              SELECT id AS id_a, lat AS lat_a, lon AS lon_a,
                     cx + dx AS nx, cy + dy AS ny
              FROM cells,
                   (SELECT unnest([-1, 0, 1]) AS dx) dxs,
                   (SELECT unnest([-1, 0, 1]) AS dy) dys),
            b AS (
              SELECT id AS id_b, lat AS lat_b, lon AS lon_b,
                     cx AS nx, cy AS ny
              FROM cells),
            dd AS (
              SELECT id_a, id_b,
                     round(2 * 6371.0 * asin(sqrt(
                       sin(radians(lat_b - lat_a) / 2)
                         * sin(radians(lat_b - lat_a) / 2)
                       + cos(radians(lat_a)) * cos(radians(lat_b))
                         * sin(radians(lon_b - lon_a) / 2)
                         * sin(radians(lon_b - lon_a) / 2))), 6) AS dist_km
              FROM a JOIN b USING (nx, ny)
              WHERE id_a < id_b),
            pairs AS MATERIALIZED (
              SELECT id_a, id_b FROM dd WHERE dist_km <= 300.0),
            half AS MATERIALIZED (
              SELECT id_a AS id, id_b AS nbr FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
            core AS MATERIALIZED (
              SELECT id FROM half GROUP BY id HAVING count(*) >= 2),
            cce AS MATERIALIZED (
              SELECT id_a AS x, id_b AS y FROM pairs
              WHERE id_a IN (SELECT id FROM core)
                AND id_b IN (SELECT id FROM core)),
            ccb AS MATERIALIZED (
              SELECT x, y FROM cce UNION SELECT y, x FROM cce),
            cnodes AS (SELECT DISTINCT x AS id FROM ccb),
            reach AS (
              WITH RECURSIVE r(id, m) AS (
                SELECT id, id FROM cnodes
                UNION
                SELECT e.x, r.m FROM ccb e JOIN r ON e.y = r.id)
              SELECT id, min(m) AS cluster_id FROM r GROUP BY id),
            lone AS (
              SELECT id, id AS cluster_id FROM core
              WHERE id NOT IN (SELECT id FROM cnodes)),
            corelbl AS MATERIALIZED (
              SELECT * FROM reach UNION ALL SELECT * FROM lone),
            border AS MATERIALIZED (
              SELECT h.id, min(cl.cluster_id) AS cluster_id
              FROM half h
              JOIN core c ON h.nbr = c.id
              JOIN corelbl cl ON cl.id = h.nbr
              WHERE h.id NOT IN (SELECT id FROM core)
              GROUP BY h.id)
            SELECT p.id AS doc_id,
                   CASE WHEN cl.id IS NOT NULL THEN 'core'
                        WHEN bo.id IS NOT NULL THEN 'border'
                        ELSE 'noise' END AS role,
                   coalesce(cl.cluster_id, bo.cluster_id) AS cluster_id
            FROM pts p
            LEFT JOIN corelbl cl ON p.id = cl.id
            LEFT JOIN border bo ON p.id = bo.id
        """)
def q_spatial_density_clusters(spark, sf):
    """DBSCAN-class density clustering over the md5-derived point
    cloud: cores = ≥2 neighbors within 300 km; clusters = star-CC of
    the core-core graph (min-member labels); borders attach to their
    smallest core neighbor's cluster (deterministic, unlike classic
    scan-order DBSCAN); the rest is noise."""
    from pdf_to_vectordb_etl_spark.operators import spatial

    docs = _t(spark, sf, "documents").select("doc_id").distinct()

    def u(tag):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag), F.col("doc_id").cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("double")
            + 0.5
        ) / F.lit(float(16**12))

    pts = docs.select(
        F.col("doc_id").alias("id"),
        (F.lit(-60.0) + u("lat#") * 120.0).alias("lat"),
        (F.lit(-180.0) + u("lon#") * 360.0).alias("lon"),
    )
    out = spatial.density_clusters(
        pts, radius_km=300.0, cell_deg=6.0, min_neighbors=2
    )
    return out.select(F.col("id").alias("doc_id"), "role", "cluster_id")


# the streaming CUSUM fold over time-ordered arrival with the
# batch-trained reference stats replays the batch detector exactly
@query(oracle_of="cusum_changepoints")
def q_t13_stream_cusum(spark, sf):
    """T13 — streaming CUSUM: the recurrence frontier (s⁺, s⁻,
    last_t) carried as per-key state across micro-batches — a
    genuinely sequential state, unlike the associative sketch states
    of T9-T12. Reference (mu, sd) per key is trained batch-side and
    pickled in (5 keys); the metric stream is the daily-count series
    written to a drop folder and replayed time-ordered. Identical
    fold ⇒ the batch CUSUM SQL is the parity oracle."""
    import tempfile

    from pdf_to_vectordb_etl_spark.streaming.pipeline import drain_to_memory

    ev = _t(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("(ts div 1000) div 86400000000").alias("day"),
    ).agg(F.count("*").cast("double").alias("v"))
    ref = {
        r["event_type"]: (r["mu"], r["sd"])
        for r in daily.groupBy("event_type")
        .agg(
            F.avg("v").alias("mu"), F.stddev_pop("v").alias("sd")
        )
        .collect()
    }
    from pdf_to_vectordb_etl_spark.streaming.stateful import stream_cusum

    # the drained memory table holds the result, so the input dir can go
    with tempfile.TemporaryDirectory(prefix="t13in") as d:
        daily.write.mode("overwrite").parquet(d)
        raw_schema = spark.read.parquet(d).schema
        stream = spark.readStream.schema(raw_schema).parquet(d)
        out = stream_cusum(
            stream,
            ref,
            key_col="event_type",
            time_col="day",
            value_col="v",
            slack=0.5,
            threshold=3.0,
        )
        drained = drain_to_memory(out, "t13_stream_cusum_out", mode="append")
    return drained.select(
        F.col("key").alias("event_type"),
        F.col("t").alias("day"),
        "v",
        "s_pos",
        "s_neg",
        "alarm_up",
        "alarm_down",
    )


# --------------------------------------------------------------------------
# evaluation statistics — grading the pipeline's own filters/clusterings
# --------------------------------------------------------------------------

@query(oracle="""
            WITH b AS (
              SELECT CAST(least(greatest(floor((value - 0.0) / 0.5), 0), 999)
                          AS INT) AS bin,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                              END) AS BIGINT) AS pos,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1
                              END) AS BIGINT) AS neg
              FROM events WHERE value IS NOT NULL GROUP BY 1),
            c AS (
              SELECT pos, neg,
                     CAST(coalesce(sum(neg) OVER (ORDER BY bin
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS BIGINT) AS cumneg
              FROM b)
            SELECT round(sum(pos * (cumneg + neg / 2.0))
                         / nullif(CAST(sum(pos) AS DOUBLE)
                                  * sum(neg), 0.0), 6) AS auc,
                   CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(neg) AS BIGINT) AS n_neg
            FROM c
        """)
def q_eval_auc(spark, sf):
    """Distributed ROC AUC on a fixed 1000-bin score grid: does event
    value separate purchases from the rest?  The corpus reduces to
    ≤1000 bins in one map-side-combined agg; the cumulative-negatives
    window runs over that constant-size bin table (bounded by
    construction — audit-allowlisted), then one rank-sum aggregate
    emits a single row."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    events = _t(spark, sf, "events")
    return ev.binned_auc(
        events, "value", F.col("event_type") == "purchase",
        n_bins=1000, lo=0.0, hi=500.0,
    )


@query(oracle="""
            WITH ev AS (
              SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
              FROM events),
            lastt AS (
              SELECT user_id, tus, event_type,
                     first_value(event_type) OVER (PARTITION BY user_id
                       ORDER BY tus DESC, event_id DESC) AS last_type
              FROM ev),
            per_user AS (
              SELECT user_id,
                     (max(tus) - min(tus)) // 86400000000 AS duration,
                     max(last_type) = 'error' AS observed
              FROM lastt GROUP BY user_id),
            grp AS (
              SELECT duration,
                     CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_events,
                     CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END)
                          AS BIGINT) AS n_censored
              FROM per_user GROUP BY duration),
            r AS (
              SELECT duration, n_events, n_censored,
                     CAST(sum(n_events + n_censored) OVER ()
                          - coalesce(sum(n_events + n_censored) OVER (
                              ORDER BY duration ROWS BETWEEN UNBOUNDED
                              PRECEDING AND 1 PRECEDING), 0)
                          AS BIGINT) AS n_at_risk
              FROM grp)
            SELECT duration, n_at_risk, n_events, n_censored,
                   round(exp(sum(ln(greatest(
                           1.0 - n_events * 1.0 / n_at_risk, 1e-300)))
                         OVER (ORDER BY duration ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW)), 6) AS survival
            FROM r ORDER BY duration
        """)
def q_survival_km(spark, sf):
    """Kaplan-Meier user-retention curve: per-user lifetime in days
    (first→last event), churn observed when the user's final event is
    an ``error`` (deterministic last-event pick via (ts, event_id)
    tiebreak).  Subjects fold to the distinct-duration table — time-
    domain-sized, not user-sized — before the ordered at-risk /
    survival-product windows (bounded by construction)."""
    from pyspark.sql import Window

    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    ev_t = _t(spark, sf, "events").select(
        "user_id", "event_id", F.expr("ts div 1000").alias("tus"), "event_type"
    )
    w_last = Window.partitionBy("user_id").orderBy(
        F.desc("tus"), F.desc("event_id")
    )
    per_user = (
        ev_t.withColumn("_last", F.first("event_type").over(w_last))
        .groupBy("user_id")
        .agg(
            F.expr("(max(tus) - min(tus)) div 86400000000").alias("duration"),
            (F.max("_last") == "error").alias("observed"),
        )
    )
    return ev.kaplan_meier(per_user, "duration", "observed")


@query(oracle="""
            WITH src AS (
              SELECT event_type,
                     CASE WHEN NOT isnan(value)
                          THEN CAST(floor(value * 1000000) AS BIGINT)
                     END AS q
              FROM events),
            a AS (
              SELECT count(CASE WHEN event_type = 'click' THEN q END)
                       AS n_a,
                     count(CASE WHEN event_type = 'view' THEN q END)
                       AS n_b,
                     sum(CASE WHEN event_type = 'click'
                              THEN CAST(q AS HUGEINT) END) AS sa,
                     sum(CASE WHEN event_type = 'view'
                              THEN CAST(q AS HUGEINT) END) AS sb,
                     sum(CASE WHEN event_type = 'click'
                              THEN CAST(q AS HUGEINT) * q END) AS ssa,
                     sum(CASE WHEN event_type = 'view'
                              THEN CAST(q AS HUGEINT) * q END) AS ssb
              FROM src),
            b AS (
              SELECT n_a, n_b,
                     floor(CAST(sa AS DOUBLE) / n_a) / 1e6 + 0.0 AS mean_a,
                     floor(CAST(sb AS DOUBLE) / n_b) / 1e6 + 0.0 AS mean_b,
                     CASE WHEN n_a >= 2 THEN
                       floor(CAST(n_a * ssa - sa * sa AS DOUBLE)
                             / (CAST(n_a * (n_a - 1) AS DOUBLE)
                                * 1000000.0)) / 1e6 + 0.0
                     END AS var_a,
                     CASE WHEN n_b >= 2 THEN
                       floor(CAST(n_b * ssb - sb * sb AS DOUBLE)
                             / (CAST(n_b * (n_b - 1) AS DOUBLE)
                                * 1000000.0)) / 1e6 + 0.0
                     END AS var_b
              FROM a)
            SELECT n_a, n_b, mean_a, mean_b,
                   round((mean_a - mean_b)
                         / sqrt(var_a / n_a + var_b / n_b), 4) AS t_stat,
                   round(pow(var_a / n_a + var_b / n_b, 2)
                         / (pow(var_a / n_a, 2) / (n_a - 1)
                            + pow(var_b / n_b, 2) / (n_b - 1)), 2) AS df
            FROM b
        """)
def q_ab_welch_ttest(spark, sf):
    """Welch's unequal-variance t-test: do click and view events carry
    different mean values?  One conditional aggregate (count/avg/var
    per arm, vars rounded before the t/df formulas) — no shuffle
    beyond the single global agg, trivially partial-combinable."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    events = _t(spark, sf, "events")
    return ev.welch_ttest(events, "event_type", "value", "click", "view")


@query(oracle=r"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text),
                         '\b(the|a|of|and|to|in|is|it)\b')) AS n_stop,
                     len(regexp_extract_all(text, '[A-Z]')) AS n_upper
              FROM documents),
            g AS (
              SELECT doc_id,
                     round(CASE WHEN n_tokens > 0
                           THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens
                           ELSE 0.0 END, 6) AS mean_token_len,
                     round(CASE WHEN n_chars > 0
                           THEN n_punct * 1.0 / n_chars ELSE 0.0 END, 6)
                       AS punct_ratio,
                     round(CASE WHEN n_tokens > 0
                           THEN n_stop * 1.0 / n_tokens ELSE 0.0 END, 6)
                       AS stopword_ratio,
                     round(CASE WHEN n_chars > 0
                           THEN n_upper * 1.0 / n_chars ELSE 0.0 END, 6)
                       AS upper_ratio,
                     round(ln(1.0 + n_tokens), 6) AS log1p_tokens
              FROM f),
            z AS (
              SELECT doc_id,
                     round(-2.2 + 3.2 * stopword_ratio + -6.0 * punct_ratio
                           + -2.5 * upper_ratio + 0.15 * mean_token_len
                           + 0.35 * log1p_tokens, 8) AS z
              FROM g),
            p AS (
              SELECT z.doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS p,
                     d.lang = 'en' AS y
              FROM z JOIN documents d ON z.doc_id = d.doc_id),
            q AS (
              SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
                     CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS pq,
                     CASE WHEN y THEN 1 ELSE 0 END AS yy
              FROM p)
            SELECT bin, CAST(count(*) AS BIGINT) AS n,
                   floor(CAST(sum(pq) AS DOUBLE) / count(*)) / 1e6 + 0.0
                     AS mean_prob,
                   floor(CAST(sum(yy) AS DOUBLE) * 1000000 / count(*))
                     / 1e6 + 0.0 AS pos_rate,
                   floor(CAST(sum(CAST(pq - yy * 1000000 AS HUGEINT)
                                  * (pq - yy * 1000000)) AS DOUBLE)
                         / (CAST(count(*) AS DOUBLE) * 1000000.0))
                     / 1e6 + 0.0 AS brier
            FROM q GROUP BY bin ORDER BY bin
        """)
def q_calibration_bins(spark, sf):
    """Reliability diagram for the learned quality filter: bucket
    quality_prob into 10 equal-width bins and compare mean predicted
    probability against the observed positive rate (label: English
    doc), plus per-bin Brier score.  One aggregate, 10 output rows."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    docs = _t(spark, sf, "documents")
    scored = ta.quality_logreg(docs).select("doc_id", "quality_prob").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return ev.calibration_bins(
        scored, "quality_prob", F.col("lang") == "en", n_bins=10
    )


@query(oracle="""
            WITH pts AS (
              SELECT vec_id, label, pos, CAST(embedding[pos] AS DOUBLE) AS x
              FROM (SELECT vec_id, label, embedding,
                           unnest(generate_series(1, len(embedding))) AS pos
                    FROM embeddings)),
            cent AS (
              SELECT label AS clu, pos,
                     floor(CAST(sum(CAST(floor(CAST(x AS DOUBLE) * 1000000)
                                        AS BIGINT)) AS DOUBLE)
                           / count(*)) / 1e6 + 0.0 AS c
              FROM pts GROUP BY label, pos),
            d AS (
              SELECT p.vec_id, p.label, c.clu,
                     sqrt(sum(pow(p.x - c.c, 2))) AS dist
              FROM pts p JOIN cent c ON p.pos = c.pos
              GROUP BY p.vec_id, p.label, c.clu),
            pp AS (
              SELECT vec_id, label,
                     min(CASE WHEN clu = label THEN dist END) AS a,
                     min(CASE WHEN clu <> label THEN dist END) AS b
              FROM d GROUP BY vec_id, label),
            sil AS (
              SELECT label,
                     CAST(floor(((b - a) / greatest(a, b)) * 1000000)
                          AS BIGINT) AS sq
              FROM pp)
            SELECT label, CAST(count(*) AS BIGINT) AS n,
                   floor(CAST(sum(sq) AS DOUBLE) / count(sq)) / 1e6 + 0.0
                     AS mean_silhouette
            FROM sil GROUP BY label ORDER BY label
        """)
def q_silhouette_labels(spark, sf):
    """Simplified silhouette per embedding label: distance to own vs
    nearest-other label centroid, the O(n·k) centroid form.  Centroids
    build via explode-once hash agg (rounded 6dp for engine parity)
    and broadcast as k rows; the corpus never shuffles on content."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    emb = _t(spark, sf, "embeddings")
    return ev.silhouette_by_cluster(emb, "embedding", "label", "vec_id")


@query(oracle=r"""
            WITH t AS (
              SELECT source, doc_id,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS n_tok
              FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents),
            r AS (
              SELECT source, CAST(n_tok AS DOUBLE) AS x,
                     row_number() OVER (PARTITION BY source
                       ORDER BY n_tok, doc_id) AS i
              FROM t)
            SELECT source, CAST(count(*) AS BIGINT) AS n,
                   round(CASE WHEN sum(x) > 0
                         THEN 2.0 * sum(i * x) / (count(*) * sum(x))
                              - (count(*) + 1.0) / count(*)
                         ELSE 0.0 END, 6) AS gini
            FROM r GROUP BY source ORDER BY source
        """)
def q_gini_by_source(spark, sf):
    """Token-mass concentration per source: Gini coefficient of the
    per-document whitespace token count within each source, via the
    rank formula over a PARTITIONED (per-source, parallel) window with
    a doc_id tiebreak.  Complements token_pareto's corpus-level
    decile view with a per-source inequality scalar."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    ).select(
        "source", "doc_id", ta.token_count(F.col("text")).alias("n_tok")
    )
    return ev.gini_by_group(docs, "source", "n_tok", "doc_id")


@query(oracle="""
            WITH items AS (
              SELECT DISTINCT l.l_orderkey AS bid, p.p_brand AS item
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
            tot AS (SELECT CAST(count(DISTINCT bid) AS BIGINT) AS n_b
                    FROM items),
            si AS (SELECT item, CAST(count(*) AS BIGINT) AS s
                   FROM items GROUP BY item),
            pair AS (
              SELECT a.item AS ia, b.item AS ib,
                     CAST(count(*) AS BIGINT) AS sab
              FROM items a JOIN items b
                ON a.bid = b.bid AND a.item < b.item
              GROUP BY a.item, b.item),
            directed AS (
              SELECT ia AS ant, ib AS cons, sab FROM pair
              UNION ALL
              SELECT ib AS ant, ia AS cons, sab FROM pair),
            e AS (
              SELECT d.ant, d.cons, d.sab, sa.s AS s_ant, sc.s AS s_cons,
                     t.n_b
              FROM directed d
              JOIN si sa ON d.ant = sa.item
              JOIN si sc ON d.cons = sc.item
              CROSS JOIN tot t)
            SELECT ant, cons, sab AS supp,
                   round(sab * 1.0 / s_ant, 6) AS confidence,
                   round(CAST(sab AS DOUBLE) * n_b
                         / (CAST(s_ant AS DOUBLE) * s_cons), 6) AS lift
            FROM e WHERE sab >= CAST(n_b AS DOUBLE) * 0.005
        """)
def q_assoc_rules(spark, sf):
    """Market-basket association rules over order baskets × part
    brands: support / confidence / lift with a 0.5% min-support cut.
    Pair supports come from a self-join on the basket key (fan-out
    bounded by basket width); brand supports and the basket total ride
    as broadcasts — no driver-side count action in the plan."""
    from pdf_to_vectordb_etl_spark.operators.association import (
        association_rules,
    )

    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part")
    baskets = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li.l_partkey == F.col("p_partkey"),
    ).select(F.col("l_orderkey").alias("bid"), F.col("p_brand").alias("item"))
    return association_rules(baskets, "bid", "item", min_support=0.005)


@query(oracle=r"""
            WITH w AS (
              SELECT doc_id AS id,
                     string_split(lower(regexp_replace(trim(text), '\s+', ' ',
                                                       'g')), ' ') AS w
              FROM documents),
            toks AS (
              SELECT id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(w)-2, 0)),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS tok
              FROM w),
            rare AS (
              SELECT tok FROM toks GROUP BY tok
              HAVING count(*) BETWEEN 2 AND 3),
            post AS (SELECT id, tok FROM toks JOIN rare USING (tok)),
            e AS MATERIALIZED (
              SELECT DISTINCT a.id AS a, b.id AS b
              FROM post a JOIN post b ON a.tok = b.tok AND a.id < b.id),
            adj AS MATERIALIZED (
              SELECT a AS src, b AS mid FROM e
              UNION ALL SELECT b AS src, a AS mid FROM e),
            deg AS (
              SELECT mid, count(*) AS d FROM adj GROUP BY mid
              HAVING count(*) BETWEEN 2 AND 100),
            hop AS (
              SELECT a.src, a.mid, 1.0 / ln(deg.d) AS wt
              FROM adj a JOIN deg ON a.mid = deg.mid),
            pairs AS (
              SELECT l.src AS a, r.src AS b, round(sum(l.wt), 6) AS score
              FROM hop l JOIN hop r ON l.mid = r.mid AND l.src < r.src
              GROUP BY l.src, r.src)
            SELECT p.a, p.b, p.score FROM pairs p
            WHERE NOT EXISTS (SELECT 1 FROM e
                              WHERE e.a = p.a AND e.b = p.b)
        """)
def q_link_adamic_adar(spark, sf):
    """Adamic-Adar link prediction on the rare-shingle doc graph:
    score non-adjacent doc pairs by Σ 1/ln(deg) over shared neighbors.
    Two-hop pairs come from a self-join on the middle node with hubs
    cut at deg ≤ 100 BEFORE the join (bounds fan-out at deg² per
    middle), then existing edges leave via left-anti."""
    from pdf_to_vectordb_etl_spark.operators.graph import (
        adamic_adar,
        shared_token_edges,
    )

    docs = _t(spark, sf, "documents")
    edges = shared_token_edges(docs, min_df=2, max_df=3, n=3)
    return adamic_adar(edges, min_deg=2, max_deg=100)


@query(oracle=r"""
            WITH w AS (
              SELECT string_split(lower(regexp_replace(trim(text), '\s+', ' ',
                                                       'g')), ' ') AS w
              FROM documents),
            tk AS (SELECT unnest(w) AS tok FROM w),
            freq AS (
              SELECT tok, count(*) AS f FROM tk WHERE tok <> ''
              GROUP BY tok),
            top AS (
              SELECT ln(CAST(f AS DOUBLE)) AS lf,
                     ln(CAST(rank AS DOUBLE)) AS lr
              FROM (SELECT f, tok,
                           row_number() OVER (ORDER BY f DESC, tok) AS rank
                    FROM freq)
              WHERE rank <= 100),
            fit AS (
              SELECT round(regr_slope(lf, lr), 4) AS slope,
                     round(regr_intercept(lf, lr), 4) AS intercept,
                     round(regr_r2(lf, lr), 4) AS r2,
                     CAST(count(*) AS BIGINT) AS n_fit
              FROM top),
            v AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM freq)
            SELECT slope, intercept, r2, n_fit, vocab_size
            FROM fit CROSS JOIN v
        """)
def q_zipf_fit(spark, sf):
    """Zipf's-law fit of the corpus unigram distribution: regr_slope /
    intercept / R² of ln(freq) on ln(rank) over the top-100 tokens.
    The rank window runs over the vocabulary aggregate (vocabulary-
    bounded, audit-allowlisted), the fit is the partial-combinable
    regr_* family."""
    docs = _t(spark, sf, "documents")
    return ta.zipf_fit(docs, "text", top_n=100)


@query(oracle="""
            WITH b AS (
              SELECT CAST(least(greatest(floor((value - 0.0) / 0.5), 0), 999)
                          AS INT) AS bin,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                              END) AS BIGINT) AS pos,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1
                              END) AS BIGINT) AS neg
              FROM events WHERE value IS NOT NULL GROUP BY 1),
            c AS (
              SELECT pos, neg,
                     CAST(sum(pos) OVER (ORDER BY bin DESC ROWS BETWEEN
                          UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS cumtp,
                     CAST(sum(neg) OVER (ORDER BY bin DESC ROWS BETWEEN
                          UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS cumfp
              FROM b)
            SELECT round(sum(pos * (cumtp * 1.0 / (cumtp + cumfp)))
                         / nullif(CAST(sum(pos) AS DOUBLE), 0.0), 6) AS ap,
                   CAST(sum(pos) AS BIGINT) AS n_pos,
                   CAST(sum(neg) AS BIGINT) AS n_neg
            FROM c
        """)
def q_eval_pr_auc(spark, sf):
    """Average precision (PR-AUC) of event value as a purchase
    classifier, on the same fixed 1000-bin grid as eval_auc — one
    combinable histogram agg, then a bounded descending window +
    rank-sum (sklearn's step-wise AP, binned)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    events = _t(spark, sf, "events")
    return ev.binned_average_precision(
        events, "value", F.col("event_type") == "purchase",
        n_bins=1000, lo=0.0, hi=500.0,
    )


@query(oracle=r"""
            WITH s AS (
              SELECT doc_id,
                     len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de,
                     len(regexp_extract_all(lower(text), '\b(the|and|of|to|a)\b')) AS s_en,
                     len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS s_es,
                     len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS s_fr,
                     len(regexp_extract_all(lower(text), '\b(o|que|de|em|uma)\b')) AS s_pt
              FROM documents),
            pred AS (
              SELECT doc_id,
                     CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_pt) = 0 THEN 'und'
                          WHEN s_pt = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'pt'
                          WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'fr'
                          WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'es'
                          WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'en'
                          ELSE 'de' END AS pr
              FROM s),
            cm AS (
              SELECT pred.pr, d.lang AS tr, CAST(count(*) AS BIGINT) AS c
              FROM pred JOIN documents d USING (doc_id) GROUP BY 1, 2),
            tot AS (
              SELECT CAST(sum(c) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN pr = tr THEN c ELSE 0 END) AS BIGINT)
                       AS agree
              FROM cm),
            mp AS (SELECT pr AS cls, CAST(sum(c) AS BIGINT) AS m FROM cm
                   GROUP BY pr),
            mt AS (SELECT tr AS cls, CAST(sum(c) AS BIGINT) AS m FROM cm
                   GROUP BY tr),
            pe AS (
              SELECT sum(CAST(mp.m AS DOUBLE) * mt.m) AS pe_num
              FROM mp JOIN mt USING (cls))
            SELECT n,
                   round(agree * 1.0 / n, 6) AS po,
                   round(pe_num / (CAST(n AS DOUBLE) * n), 6) AS pe,
                   round(CASE WHEN pe_num / (CAST(n AS DOUBLE) * n) < 1.0
                              THEN (agree * 1.0 / n
                                    - pe_num / (CAST(n AS DOUBLE) * n))
                                   / (1.0 - pe_num / (CAST(n AS DOUBLE) * n))
                         END, 6) AS kappa
            FROM tot CROSS JOIN pe
        """)
def q_eval_cohens_kappa(spark, sf):
    """Chance-corrected agreement (Cohen's kappa) between the
    heuristic language detector and the true lang column.  Confusion
    cells from one hash agg; everything downstream is class-dimension
    joins."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    docs = _t(spark, sf, "documents")
    labeled = docs.select(
        ta.detect_language(F.col("text")).alias("pred"),
        F.col("lang").alias("truth"),
    )
    return ev.cohens_kappa(labeled, "pred", "truth")


@query(oracle=r"""
            WITH s AS (
              SELECT doc_id,
                     len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de,
                     len(regexp_extract_all(lower(text), '\b(the|and|of|to|a)\b')) AS s_en,
                     len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS s_es,
                     len(regexp_extract_all(lower(text), '\b(le|la|les|des|est)\b')) AS s_fr,
                     len(regexp_extract_all(lower(text), '\b(o|que|de|em|uma)\b')) AS s_pt
              FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents),
            pred AS (
              SELECT doc_id,
                     CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_pt) = 0 THEN 'und'
                          WHEN s_pt = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'pt'
                          WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'fr'
                          WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'es'
                          WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_pt) THEN 'en'
                          ELSE 'de' END AS pr
              FROM s),
            cm AS (
              SELECT pred.pr, d.lang AS tr, CAST(count(*) AS BIGINT) AS c
              FROM pred JOIN documents d USING (doc_id) GROUP BY 1, 2),
            tp AS (SELECT pr AS cls, c AS tp FROM cm WHERE pr = tr),
            mp AS (SELECT pr AS cls, CAST(sum(c) AS BIGINT) AS m FROM cm
                   GROUP BY pr),
            mt AS (SELECT tr AS cls, CAST(sum(c) AS BIGINT) AS m FROM cm
                   GROUP BY tr),
            base AS (
              SELECT coalesce(mp.cls, mt.cls) AS class,
                     CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
                     CAST(coalesce(mp.m, 0) - coalesce(tp.tp, 0) AS BIGINT)
                       AS fp,
                     CAST(coalesce(mt.m, 0) - coalesce(tp.tp, 0) AS BIGINT)
                       AS fn
              FROM mp FULL OUTER JOIN mt ON mp.cls = mt.cls
              LEFT JOIN tp ON coalesce(mp.cls, mt.cls) = tp.cls),
            pr AS (
              SELECT class, tp, fp, fn,
                     CASE WHEN tp + fp > 0 THEN tp * 1.0 / (tp + fp)
                          ELSE 0.0 END AS p,
                     CASE WHEN tp + fn > 0 THEN tp * 1.0 / (tp + fn)
                          ELSE 0.0 END AS r
              FROM base)
            SELECT class, tp, fp, fn,
                   round(p, 6) AS "precision",
                   round(r, 6) AS recall,
                   round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
                         ELSE 0.0 END, 6) AS f1
            FROM pr ORDER BY class
        """)
def q_eval_confusion_f1(spark, sf):
    """Per-class precision/recall/F1 of the language detector vs the
    true lang over the union of predicted and true class sets (classes
    the detector never emits — e.g. zh — still report recall=0; pt /
    und report their false-positive volume)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    labeled = docs.select(
        ta.detect_language(F.col("text")).alias("pred"),
        F.col("lang").alias("truth"),
    )
    return ev.confusion_stats(labeled, "pred", "truth")


@query(oracle="""
            WITH q AS (
              SELECT vec_id AS qid, embedding AS qv, label AS qlabel
              FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 5000),
            p AS (
              SELECT q.qid, q.qlabel, e.vec_id, e.label,
                     round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.qv AS DOUBLE[])), 6) AS sim
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
            r AS (
              SELECT qid, qlabel, label,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY sim DESC, vec_id) AS rank
              FROM p),
            h AS (
              SELECT qid,
                     min(CASE WHEN label = qlabel THEN rank END) AS first_hit
              FROM r WHERE rank <= 10 GROUP BY qid)
            SELECT floor(CAST(sum(coalesce(2520 // first_hit, 0))
                              AS DOUBLE) * 1000000
                         / (CAST(count(*) AS DOUBLE) * 2520.0)) / 1e6
                     + 0.0 AS mrr,
                   floor(CAST(sum(CASE WHEN first_hit IS NOT NULL THEN 1
                              ELSE 0 END) AS DOUBLE) * 1000000
                         / count(*)) / 1e6 + 0.0 AS recall_at_10,
                   CAST(count(*) AS BIGINT) AS n_queries
            FROM h
        """)
def q_eval_mrr_ann(spark, sf):
    """Retrieval quality of the embedding space itself: for every 10th
    vector as a query, brute-force cosine top-10 over the corpus
    (self excluded BEFORE ranking), first rank whose neighbor shares
    the query's label → MRR and recall@10.  Query side broadcasts;
    the per-qid rank window is partitioned; the final fold is one
    aggregate.

    Scale note: the query panel is a FIXED-SIZE deterministic sample
    (every 10th id below 5000 → ≤500 queries at any corpus size), so
    total work is panel×corpus — linear in the corpus, never
    quadratic.  This is the exact-eval harness; serving-scale
    retrieval goes through the IVF path (k1_topk_ivf)."""
    from pyspark.sql import Window

    from pdf_to_vectordb_etl_spark.functions.vector import cosine_similarity

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 5000)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("_qv"),
        F.col("label").alias("qlabel"),
    )
    pairs = (
        emb.select("vec_id", "embedding", "label")
        .crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("_qv")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    top = pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )
    per_q = top.groupBy("qid").agg(
        F.min(
            F.when(F.col("label") == F.col("qlabel"), F.col("rank"))
        ).alias("first_hit")
    )
    # exact rational means (r9 port): ranks are 1..10, so 1/rank lives
    # on the 1/2520 grid (lcm(1..10) — the eval_map_ann trick) and the
    # hit rate is k/n; round(avg) of small-denominator rationals lands
    # ON 6-dp boundaries at real rates. One exact-int division each.
    hm = F.coalesce(F.expr("2520 div first_hit"), F.lit(0))
    return per_q.agg(
        (
            F.floor(
                F.sum(hm).cast("double")
                * 1e6
                / (F.count(F.lit(1)).cast("double") * 2520.0)
            )
            / 1e6
            + 0.0
        ).alias("mrr"),
        (
            F.floor(
                F.sum(F.col("first_hit").isNotNull().cast("int"))
                .cast("double")
                * 1e6
                / F.count(F.lit(1))
            )
            / 1e6
            + 0.0
        ).alias("recall_at_10"),
        F.count("*").cast("long").alias("n_queries"),
    )


@query(oracle="""
            WITH q AS (
              SELECT vec_id AS qid, embedding AS qv, label AS qlabel
              FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 5000),
            p AS (
              SELECT q.qid, q.qlabel, e.vec_id, e.label,
                     round(list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.qv AS DOUBLE[])), 6) AS sim
              FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
            r AS (
              SELECT qid, qlabel, label,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY sim DESC, vec_id) AS rank
              FROM p),
            t AS (
              SELECT qid, qlabel,
                     CASE WHEN label = qlabel
                     THEN CAST(sum(CASE WHEN label = qlabel THEN 1
                               ELSE 0 END) OVER (PARTITION BY qid
                               ORDER BY rank ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS BIGINT)
                          * (2520 // rank)
                     ELSE 0 END AS t2520
              FROM r WHERE rank <= 10),
            lab AS (SELECT label, CAST(count(*) AS BIGINT) AS lc
                    FROM embeddings GROUP BY label),
            pq AS (
              SELECT qid, any_value(qlabel) AS ql,
                     CAST(coalesce(sum(t2520), 0) AS BIGINT) AS s2520
              FROM t GROUP BY qid),
            pq2 AS (
              SELECT qid, s2520,
                     coalesce(lc - 1, 0) AS r_mates
              FROM pq LEFT JOIN lab ON ql = label),
            fin AS (
              SELECT CAST(count(*) AS BIGINT) AS n_queries,
                     CAST(coalesce(sum(CAST(floor(
                       CASE WHEN r_mates > 0
                       THEN CAST(s2520 AS DOUBLE)
                            / (2520.0 * CAST(least(r_mates, 10)
                                             AS DOUBLE))
                       ELSE 0.0 END * 1e9) AS BIGINT)), 0) AS BIGINT)
                       AS ap9
              FROM pq2)
            SELECT n_queries,
                   CASE WHEN n_queries > 0
                   THEN floor(ap9 / 1e9 / n_queries * 1e6) / 1e6
                   END AS map10_q6
            FROM fin
        """)
def q_eval_map_ann(spark, sf):
    """MAP@10 of the embedding-space label retrieval (the eval_mrr_ann
    panel): per-query average precision over the cosine top-10, AP =
    Σ_{rel hits} (cum_rel@k / k) / min(R, 10) with R = corpus
    label-mates.  EXACT integer formulation: each hit contributes
    cum_rel·(2520/k) (2520 = lcm(1..10)), so the per-query sum is an
    int64 and the only doubles are one division per query —
    1e-9-floored before the cross-query mean (partition-order-proof).
    Per-qid 10-row windows only."""
    from pyspark.sql import Window

    from pdf_to_vectordb_etl_spark.functions.vector import (
        cosine_similarity,
    )

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 5000)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("_qv"),
        F.col("label").alias("qlabel"),
    )
    pairs = (
        emb.select("vec_id", "embedding", "label")
        .crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("_qv")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))
    top = pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )
    rel = top.withColumn(
        "rel", (F.col("label") == F.col("qlabel")).cast("int")
    )
    wc = (
        Window.partitionBy("qid")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    terms = rel.withColumn("cum", F.sum("rel").over(wc)).select(
        "qid",
        "qlabel",
        F.when(
            F.col("rel") == 1,
            F.col("cum") * (F.lit(2520) / F.col("rank")).cast("long"),
        )
        .otherwise(0)
        .cast("long")
        .alias("t2520"),
    )
    lab = emb.groupBy("label").agg(
        F.count("*").cast("long").alias("_lc")
    )
    per_q = (
        terms.groupBy("qid", "qlabel")
        .agg(F.sum("t2520").cast("long").alias("s2520"))
        .join(
            F.broadcast(lab), F.col("qlabel") == F.col("label"), "left"
        )
        .select(
            "qid",
            "s2520",
            F.coalesce(F.col("_lc") - 1, F.lit(0)).alias("r_mates"),
        )
    )
    ap = F.when(
        F.col("r_mates") > 0,
        F.col("s2520").cast("double")
        / (2520.0 * F.least(F.col("r_mates"), F.lit(10)).cast("double")),
    ).otherwise(F.lit(0.0))
    out = per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.coalesce(F.sum(F.floor(ap * 1e9).cast("long")), F.lit(0)).alias(
            "_ap9"
        ),
    )
    return out.select(
        "n_queries",
        F.when(
            F.col("n_queries") > 0,
            F.floor(
                F.col("_ap9") / 1e9 / F.col("n_queries") * 1e6
            )
            / 1e6,
        ).alias("map10_q6"),
    )


@query(oracle="""
            WITH p AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                 x -> len(x) > 0) AS toks
              FROM documents),
            d AS (
              SELECT doc_id, len(toks) AS dl,
                     list_filter(toks, t -> t IN ('merge', 'window', 'data'))
                       AS qt
              FROM p),
            rel AS (SELECT doc_id, len(qt) AS rel FROM d),
            t AS (SELECT doc_id, dl, unnest(qt) AS term FROM d),
            tf AS (SELECT doc_id, term, any_value(dl) AS dl, count(*) AS tf
                   FROM t GROUP BY 1, 2),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            c AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
            s AS (
              SELECT tf.doc_id,
                     ln((c.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1)
                     * (tf.tf * 2.2)
                     / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl))
                       AS sc
              FROM tf JOIN dft USING (term) CROSS JOIN c),
            sc AS (SELECT doc_id, round(sum(sc), 4) AS score FROM s
                   GROUP BY doc_id),
            top10 AS (SELECT doc_id, score FROM sc
                      ORDER BY score DESC, doc_id LIMIT 10),
            dcg AS (
              SELECT round(sum(rel.rel / log2(x.pos + 1)), 4) AS dcg
              FROM (SELECT doc_id, row_number() OVER (ORDER BY score DESC,
                           doc_id) AS pos
                    FROM top10) x
              JOIN rel ON x.doc_id = rel.doc_id),
            ideal AS (
              SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS pos
              FROM rel WHERE rel > 0 ORDER BY rel DESC, doc_id LIMIT 10),
            idcg AS (SELECT round(sum(rel / log2(pos + 1)), 4) AS idcg
                     FROM ideal),
            nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rel FROM rel
                   WHERE rel > 0)
            SELECT dcg, idcg, round(dcg / idcg, 6) AS ndcg, n_rel
            FROM dcg CROSS JOIN idcg CROSS JOIN nr
        """)
def q_eval_ndcg_bm25(spark, sf):
    """NDCG@10 of the BM25 ranking for the standard 3-term query, with
    graded relevance = total query-term occurrences in the document.
    DCG over the BM25 top-10, IDCG over the relevance-ideal top-10
    (TakeOrdered global limit — no full sort); the position windows
    run over 10-row shortlists (bounded by construction)."""
    from pyspark.sql import Window

    from pdf_to_vectordb_etl_spark.operators import textsearch

    terms = ["merge", "window", "data"]
    docs = _t(spark, sf, "documents")
    rel = docs.select(
        "doc_id",
        F.size(
            F.filter(
                textsearch.tokens("text"), lambda t: t.isin(*terms)
            )
        ).alias("rel"),
    )
    top10 = textsearch.bm25_topk(docs, terms, k=10).select(
        F.col("id").alias("doc_id"), "score"
    )
    w_bm = Window.orderBy(F.desc("score"), F.col("doc_id"))
    dcg_t = (
        top10.withColumn("pos", F.row_number().over(w_bm))
        .join(rel, "doc_id")
        .agg(F.round(F.sum(F.col("rel") / F.log2(F.col("pos") + 1)), 4)
             .alias("dcg"))
    )
    ideal10 = (
        rel.filter(F.col("rel") > 0)
        .orderBy(F.desc("rel"), F.col("doc_id"))
        .limit(10)
    )
    w_id = Window.orderBy(F.desc("rel"), F.col("doc_id"))
    idcg_t = (
        ideal10.withColumn("pos", F.row_number().over(w_id))
        .agg(F.round(F.sum(F.col("rel") / F.log2(F.col("pos") + 1)), 4)
             .alias("idcg"))
    )
    n_rel = rel.filter(F.col("rel") > 0).agg(
        F.count("*").cast("long").alias("n_rel")
    )
    return (
        dcg_t.crossJoin(idcg_t)
        .crossJoin(n_rel)
        .select(
            "dcg",
            "idcg",
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
            "n_rel",
        )
    )


@query(oracle="""
            WITH cm AS (
              SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS o
              FROM documents GROUP BY 1, 2),
            ma AS (SELECT a, CAST(sum(o) AS BIGINT) AS mao FROM cm GROUP BY a),
            mb AS (SELECT b, CAST(sum(o) AS BIGINT) AS mbo FROM cm GROUP BY b),
            tot AS (
              SELECT CAST(sum(o) AS DOUBLE) AS n,
                     CAST(count(DISTINCT a) AS BIGINT) AS r,
                     CAST(count(DISTINCT b) AS BIGINT) AS c
              FROM cm),
            cells AS (
              SELECT cm.o, ma.mao, mb.mbo, tot.n, tot.r, tot.c
              FROM cm JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot),
            agg AS (
              SELECT any_value(n) AS n, any_value(r) AS r, any_value(c) AS c,
                     sum(CAST(o AS DOUBLE) * o
                         / (CAST(mao AS DOUBLE) * mbo / n)) AS sum_o2e,
                     sum((o / n) * ln(o * n
                         / (CAST(mao AS DOUBLE) * mbo))) AS mi
              FROM cells)
            SELECT CAST(n AS BIGINT) AS n,
                   (r - 1) * (c - 1) AS dof,
                   round(sum_o2e - n, 4) AS chi2,
                   round(sqrt((sum_o2e - n)
                              / nullif(n * least(r - 1, c - 1), 0.0)), 6)
                     AS cramers_v,
                   round(mi, 6) AS mi_nats
            FROM agg
        """)
def q_indep_lang_source(spark, sf):
    """Chi-squared independence test + Cramér's V + mutual information
    between document language and source — is the corpus mix balanced
    or is language confounded with provenance?  One contingency agg
    (χ² via the zero-cell-free Σ o²/e − N identity), class-dimension
    joins after."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    docs = _t(spark, sf, "documents")
    return ev.contingency_independence(docs, "lang", "source")


@query(oracle="""
            WITH h AS (
              SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
              FROM events WHERE event_type IN ('click', 'view')),
            parts AS (
              SELECT event_type,
                     (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)
                       AS bucket,
                     length(regexp_extract(substr(hx, 3, 12), '^0*')) AS z,
                     substr(substr(hx, 3, 12),
                            length(regexp_extract(substr(hx, 3, 12), '^0*'))
                            + 1, 1) AS nib
              FROM h),
            rho AS (
              SELECT event_type, bucket,
                     CASE WHEN z = 12 THEN 49
                          ELSE z * 4
                               + CASE WHEN nib = '1' THEN 3
                                      WHEN nib IN ('2', '3') THEN 2
                                      WHEN nib IN ('4', '5', '6', '7') THEN 1
                                      ELSE 0 END
                               + 1 END AS rho
              FROM parts),
            regs AS (
              SELECT event_type, bucket, max(rho) AS r
              FROM rho GROUP BY 1, 2),
            ra AS (SELECT bucket, r FROM regs WHERE event_type = 'click'),
            rb AS (SELECT bucket, r FROM regs WHERE event_type = 'view'),
            mg AS (
              SELECT greatest(coalesce(ra.r, 0), coalesce(rb.r, 0)) AS r
              FROM ra FULL OUTER JOIN rb ON ra.bucket = rb.bucket),
            sa AS (SELECT sum(pow(2.0, -r)) AS s, count(*) AS np FROM ra),
            sb AS (SELECT sum(pow(2.0, -r)) AS s, count(*) AS np FROM rb),
            su AS (SELECT sum(pow(2.0, -r)) AS s, count(*) AS np FROM mg),
            ea AS (
              SELECT round(CASE WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                                     / (s + (256 - np)) <= 2.5 * 256
                                     AND (256 - np) > 0
                                THEN 256.0 * ln(256.0 / (256 - np))
                                ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                                     / (s + (256 - np)) END, 4) AS est_a
              FROM sa),
            eb AS (
              SELECT round(CASE WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                                     / (s + (256 - np)) <= 2.5 * 256
                                     AND (256 - np) > 0
                                THEN 256.0 * ln(256.0 / (256 - np))
                                ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                                     / (s + (256 - np)) END, 4) AS est_b
              FROM sb),
            eu AS (
              SELECT round(CASE WHEN (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                                     / (s + (256 - np)) <= 2.5 * 256
                                     AND (256 - np) > 0
                                THEN 256.0 * ln(256.0 / (256 - np))
                                ELSE (0.7213 / (1 + 1.079 / 256)) * 256 * 256
                                     / (s + (256 - np)) END, 4) AS est_union
              FROM su)
            SELECT est_a, est_b, est_union,
                   round(greatest(est_a + est_b - est_union, 0.0), 4)
                     AS est_intersection,
                   round(greatest(est_a + est_b - est_union, 0.0)
                         / nullif(est_union, 0.0), 6) AS jaccard
            FROM ea CROSS JOIN eb CROSS JOIN eu
        """)
def q_hll_set_users(spark, sf):
    """Sketch-algebra set report over HLL register files: distinct
    click-users vs view-users, union by per-bucket max (the
    associative merge), intersection by inclusion-exclusion, Jaccard
    derived — rows are scanned once per side; all set math happens on
    ≤256-row register files."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    ev_t = _t(spark, sf, "events").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    return sketch.hll_set_report(ev_t, "uid", "event_type", "click", "view")


@query(oracle="""
            WITH d AS (
              SELECT DISTINCT event_type,
                     (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
                       ::BIGINT + 0.5) / 281474976710656.0 AS u
              FROM events WHERE event_type IN ('click', 'view')),
            ka AS (SELECT u FROM d WHERE event_type = 'click'
                   ORDER BY u LIMIT 256),
            kb AS (SELECT u FROM d WHERE event_type = 'view'
                   ORDER BY u LIMIT 256),
            uk AS (
              SELECT DISTINCT u
              FROM (SELECT u FROM ka UNION ALL SELECT u FROM kb)
              ORDER BY u LIMIT 256),
            ea AS (SELECT CASE WHEN count(*) < 256
                               THEN CAST(count(*) AS DOUBLE)
                               ELSE 255.0 / max(u) END AS est_a FROM ka),
            eb AS (SELECT CASE WHEN count(*) < 256
                               THEN CAST(count(*) AS DOUBLE)
                               ELSE 255.0 / max(u) END AS est_b FROM kb),
            eu AS (SELECT CASE WHEN count(*) < 256
                               THEN CAST(count(*) AS DOUBLE)
                               ELSE 255.0 / max(u) END AS est_union FROM uk),
            bo AS (SELECT count(*) AS both_n FROM uk
                   WHERE u IN (SELECT u FROM ka)
                     AND u IN (SELECT u FROM kb)),
            nu AS (SELECT count(*) AS nu FROM uk)
            SELECT round(est_a, 4) AS est_a,
                   round(est_b, 4) AS est_b,
                   round(est_union, 4) AS est_union,
                   round(both_n * 1.0 / nullif(nu, 0), 6) AS jaccard,
                   round((both_n * 1.0 / nullif(nu, 0)) * est_union, 4)
                     AS est_intersection
            FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN bo CROSS JOIN nu
        """)
def q_kmv_set_users(spark, sf):
    """KMV set algebra (bottom-k sketches): click-users vs view-users
    — union sketch by tag merge, Jaccard by the Kmin(A∪B) membership
    estimator, intersection = ρ·|A∪B|.  Every post-distinct table is
    ≤k rows; tag joins are exact (same md5 derivation both sides)."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    ev_t = _t(spark, sf, "events").select("event_type", "user_id")
    return sketch.kmv_set_report(
        ev_t, "user_id", "event_type", "click", "view", k=256
    )


@query(oracle="""
            WITH src AS (
              SELECT event_id,
                     CASE WHEN NOT isnan(value)
                          THEN CAST(floor(value * 1000000) AS BIGINT)
                     END AS q
              FROM events),
            reps AS (
              SELECT e.q AS value, r.rep,
                     (('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || '|'
                                          || CAST(r.rep AS VARCHAR)), 1, 12))
                       ::BIGINT + 0.5) / 281474976710656.0 AS u
              FROM src e
              CROSS JOIN (SELECT unnest(generate_series(0, 99)) AS rep) r),
            w AS (
              SELECT rep, value,
                     CASE WHEN u < 0.36787944117144233 THEN 0
                          WHEN u < 0.7357588823428847 THEN 1
                          WHEN u < 0.9196986029286058 THEN 2
                          WHEN u < 0.9810118431238462 THEN 3
                          WHEN u < 0.9963401531726563 THEN 4
                          WHEN u < 0.9994058151824183 THEN 5
                          WHEN u < 0.9999167588507119 THEN 6
                          WHEN u < 0.9999897508033253 THEN 7
                          ELSE 8 END AS w
              FROM reps),
            m AS (
              SELECT rep, CAST(sum(w * value) AS DOUBLE)
                          / nullif(CAST(sum(CASE WHEN value IS NOT NULL
                                            THEN w END) AS DOUBLE), 0.0)
                          / 1e6 AS m
              FROM w GROUP BY rep),
            base AS (SELECT floor(CAST(sum(q) AS DOUBLE) / count(q))
                            / 1e6 + 0.0 AS mean FROM src),
            ci AS (
              SELECT round(quantile_cont(m, 0.025), 6) AS ci_lo,
                     round(quantile_cont(m, 0.975), 6) AS ci_hi,
                     CAST(count(*) AS BIGINT) AS n_boot
              FROM m)
            SELECT mean, ci_lo, ci_hi, n_boot FROM base CROSS JOIN ci
        """)
def q_bootstrap_mean_ci(spark, sf):
    """Poisson-bootstrap 95% CI for the mean event value: every row
    draws a deterministic Poisson(1) weight per replicate from
    md5(event_id, rep); 100 weighted means fold map-side to
    n_boot×partitions rows, and the interval is an exact percentile
    over the 100-row replicate table.  The distributed bootstrap — no
    global with-replacement draw, no driver-side resampling."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    events = _t(spark, sf, "events")
    return ev.poisson_bootstrap_mean_ci(
        events, "value", "event_id", n_boot=100, alpha=0.05
    )


# the streaming score histogram is an associative sum — its
# snapshot equals the batch bins, so the batch AUC SQL is the oracle
@query(oracle_of="eval_auc")
def q_t14_stream_auc(spark, sf):
    """T14 — incremental ROC AUC: the (bin, pos, neg) score histogram
    maintained as a streaming sum-aggregate (associative, state
    bounded at 1000 rows), then the rank-sum finale over the snapshot.
    Over identical rows the snapshot equals the batch histogram, so
    the batch AUC SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_score_bins,
        table_stream,
    )

    stream = table_stream(spark, sf, "events")
    bins = stream_score_bins(stream, "value")
    return ev.auc_from_bins(drain_to_memory(bins, "t14_stream_auc_bins"))


@query(oracle="""
            WITH e AS (
              SELECT user_id, event_id,
                     (epoch_us(ts) - 1735689600000000) / 86400000000.0 AS x,
                     value AS y
              FROM events),
            pts AS (
              SELECT user_id, x, y,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY x, event_id) AS rn
              FROM e QUALIFY rn <= 50),
            pairs AS (
              SELECT a.user_id, (b.y - a.y) / (b.x - a.x) AS s
              FROM pts a JOIN pts b
                ON a.user_id = b.user_id AND a.rn < b.rn AND a.x <> b.x),
            npts AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_points
              FROM pts GROUP BY 1),
            agg AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
                     round(quantile_cont(s, 0.5), 5) AS ts_slope
              FROM pairs GROUP BY 1)
            SELECT a.user_id, n_points, n_pairs, ts_slope
            FROM agg a JOIN npts USING (user_id)
            WHERE n_points >= 20
        """)
def q_theilsen_trend(spark, sf):
    """Robust per-user value trend: Theil-Sen median-of-pairwise-slopes
    (outlier-immune twin of trend_per_user's OLS).  Points capped at a
    deterministic 50 per key BEFORE the pair join, so fan-out is
    bounded at 50²/2 per key no matter how hot the key; median is the
    exact per-key percentile over the bounded pair set."""
    from pdf_to_vectordb_etl_spark.operators.aggregates import theilsen_trend

    ev = _t(spark, sf, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        (
            (F.expr("ts div 1000") - F.lit(1_735_689_600_000_000))
            / F.lit(86_400_000_000.0)
        ).alias("xd"),
        "value",
    )
    return theilsen_trend(
        pts, "user_id", "xd", "value", "event_id",
        max_points=50, min_points=20,
    )


@query(oracle="""
            WITH daily AS (
              SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                     CAST(floor(round(sum(value), 6) * 100 + 0.5)
                          AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            cut AS (SELECT max(day) - 7 AS c FROM daily),
            train AS (SELECT d.* FROM daily d CROSS JOIN cut WHERE day <= c),
            test AS (SELECT d.* FROM daily d CROSS JOIN cut WHERE day > c),
            lastv AS (
              SELECT event_type, arg_max(v, day) AS naive,
                     CAST(count(*) AS BIGINT) AS n_train
              FROM train GROUP BY 1),
            seas AS (
              SELECT event_type, day + 7 AS day, v AS seasonal FROM train),
            j AS (
              SELECT t.event_type, t.day, t.v, l.naive, l.n_train,
                     s.seasonal,
                     CASE WHEN l.naive IS NOT NULL
                               AND abs(t.v) + abs(l.naive) > 0
                          THEN (CAST(2 AS HUGEINT) * abs(t.v - l.naive)
                                * 1000000)
                               // (abs(t.v) + abs(l.naive))
                          WHEN l.naive IS NOT NULL THEN 0 END AS rn,
                     CASE WHEN s.seasonal IS NOT NULL
                               AND abs(t.v) + abs(s.seasonal) > 0
                          THEN (CAST(2 AS HUGEINT) * abs(t.v - s.seasonal)
                                * 1000000)
                               // (abs(t.v) + abs(s.seasonal))
                          WHEN s.seasonal IS NOT NULL THEN 0 END AS rs
              FROM test t
              LEFT JOIN lastv l USING (event_type)
              LEFT JOIN seas s USING (event_type, day)),
            sc AS (
              SELECT event_type, any_value(n_train) AS n_train,
                     CAST(count(*) AS BIGINT) AS n_test,
                     floor(CAST(sum(rn) AS DOUBLE) / count(rn)) / 1e6
                       + 0.0 AS smape_naive,
                     floor(CAST(sum(rs) AS DOUBLE) / count(rs)) / 1e6
                       + 0.0 AS smape_seasonal,
                     sum(CASE WHEN seasonal IS NOT NULL
                         THEN CAST(abs(v - seasonal) AS HUGEINT) END)
                       AS s_s,
                     count(CASE WHEN seasonal IS NOT NULL THEN 1 END)
                       AS n_s
              FROM j GROUP BY 1),
            ins AS (
              SELECT event_type,
                     sum(CAST(abs(v - prev) AS HUGEINT)) AS s_n,
                     count(prev) AS n_n
              FROM (SELECT event_type, v,
                           lag(v) OVER (PARTITION BY event_type
                             ORDER BY day) AS prev
                    FROM train)
              GROUP BY 1)
            SELECT sc.event_type, n_train, n_test, smape_naive,
                   smape_seasonal,
                   CASE WHEN s_n > 0 THEN
                          CAST((s_s * CAST(n_n AS HUGEINT) * 1000000)
                               // (s_n * CAST(n_s AS HUGEINT))
                               AS DOUBLE) / 1e6
                        WHEN s_s = 0 THEN 0.0 END + 0.0
                     AS mase_seasonal
            FROM sc LEFT JOIN ins USING (event_type)
        """)
def q_forecast_backtest(spark, sf):
    """Forecast-quality gate: hold out the last 7 days of each event
    type's daily-revenue series and score naive vs seasonal-naive
    forecasts with sMAPE + MASE (Hyndman's scale-free standard) — the
    honest baseline any fancier forecaster must beat.  One broadcast
    cutoff, an equi-join for the seasonal lookup, a max_by agg for
    naive, and a per-key PARTITIONED lag window for the MASE scale."""
    from pdf_to_vectordb_etl_spark.operators.aggregates import (
        forecast_backtest,
    )

    ev = _t(spark, sf, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("(ts div 1000) div 86400000000").alias("day"),
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    return forecast_backtest(
        daily, "event_type", "day", "v", horizon=7, season=7
    )


@query(oracle="""
            WITH corpus AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
            queries AS (
              SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 20),
            sampled AS (
              SELECT vec_id, embedding FROM corpus
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
            cents AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS list_id,
                     CAST(embedding AS DOUBLE[]) AS centroid
              FROM sampled),
            home AS (
              SELECT vec_id, embedding, list_id FROM (
                SELECT c.vec_id, c.embedding, ct.list_id,
                       row_number() OVER (
                         PARTITION BY c.vec_id
                         ORDER BY round(list_cosine_similarity(
                           CAST(c.embedding AS DOUBLE[]), ct.centroid), 6)
                           DESC, ct.list_id) AS r
                FROM corpus c CROSS JOIN cents ct)
              WHERE r = 1),
            qp AS (
              SELECT qid, qv, list_id, r AS pr FROM (
                SELECT q.qid, q.qv, ct.list_id,
                       row_number() OVER (
                         PARTITION BY q.qid
                         ORDER BY round(list_cosine_similarity(
                           q.qv, ct.centroid), 6) DESC, ct.list_id) AS r
                FROM queries q CROSS JOIN cents ct)
              WHERE r <= 4),
            lv AS (
              SELECT qp.qid, qp.qv, h.vec_id, h.embedding, l.n
              FROM home h JOIN qp ON h.list_id = qp.list_id
              CROSS JOIN (VALUES (1), (2), (4)) l(n)
              WHERE qp.pr <= l.n),
            ivf10 AS (
              SELECT qid, n, vec_id FROM (
                SELECT qid, n, vec_id,
                       row_number() OVER (
                         PARTITION BY qid, n
                         ORDER BY round(list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]), qv), 6) DESC,
                           vec_id) AS r
                FROM lv)
              WHERE r <= 10),
            ex10 AS (
              SELECT qid, vec_id FROM (
                SELECT q.qid, c.vec_id,
                       row_number() OVER (
                         PARTITION BY q.qid
                         ORDER BY round(list_cosine_similarity(
                           CAST(c.embedding AS DOUBLE[]), q.qv), 6) DESC,
                           c.vec_id) AS r
                FROM corpus c CROSS JOIN queries q)
              WHERE r <= 10),
            hits AS (
              SELECT i.qid, i.n, CAST(count(*) AS BIGINT) AS hit
              FROM ivf10 i JOIN ex10 e
                ON i.qid = e.qid AND i.vec_id = e.vec_id
              GROUP BY 1, 2),
            frame AS (
              SELECT q.qid, l.n
              FROM queries q CROSS JOIN (VALUES (1), (2), (4)) l(n)),
            per_q AS (
              SELECT f.qid, f.n, coalesce(h.hit, 0) AS hit
              FROM frame f LEFT JOIN hits h
                ON f.qid = h.qid AND f.n = h.n)
            SELECT n AS n_probe,
                   floor(CAST(sum(hit) AS DOUBLE) * 100000 / count(*))
                     / 1e6 + 0.0 AS recall_at_10,
                   CAST(count(*) AS BIGINT) AS n_queries
            FROM per_q GROUP BY n ORDER BY n
        """)
def q_ivf_recall_curve(spark, sf):
    """ANN tuning surface: recall@10 of the IVF index vs exact
    brute-force, swept over n_probe ∈ {1,2,4} — the curve an operator
    reads to pick the recall/cost point.  ONE probe assignment at the
    deepest level feeds all three sweep points (level n = probe rank ≤
    n), so the corpus is scanned once for candidates; every stage is
    the deterministic portable IVF (md5-sampled centroids, 6-dp
    ranks), so the ENTIRE sweep — index, probes, both top-10s, the
    recall fold — replays in DuckDB and is hash-verified."""
    from pyspark.sql import Window

    from pdf_to_vectordb_etl_spark.functions.vector import cosine_similarity
    from pdf_to_vectordb_etl_spark.operators.topk import (
        ivf_assign,
        ivf_centroids,
    )

    emb = _t(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("_qv")
    )
    corpus = emb.filter(F.col("vec_id") >= 20).select("vec_id", "embedding")
    cents = ivf_centroids(corpus, 16, "embedding", "vec_id")
    home = ivf_assign(corpus, cents, 1, "embedding")
    qsc = qs.crossJoin(F.broadcast(cents)).withColumn(
        "_csim",
        F.round(cosine_similarity(F.col("_qv"), F.col("centroid")), 6),
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("_csim"), F.col("list_id"))
    qp = (
        qsc.withColumn("_pr", F.row_number().over(wq))
        .filter(F.col("_pr") <= 4)
        .select("qid", "_qv", "list_id", "_pr")
    )
    cand = home.join(F.broadcast(qp), "list_id")
    lv = cand.select(
        "qid", "_qv", "vec_id", "embedding", "_pr",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(4))).alias("n_probe"),
    ).filter(F.col("_pr") <= F.col("n_probe"))
    scored = lv.withColumn(
        "_sim",
        F.round(cosine_similarity(F.col("embedding"), F.col("_qv")), 6),
    )
    w2 = Window.partitionBy("qid", "n_probe").orderBy(
        F.desc("_sim"), F.col("vec_id")
    )
    ivf10 = (
        scored.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") <= 10)
        .select("qid", "n_probe", "vec_id")
    )
    ex = corpus.crossJoin(F.broadcast(qs)).withColumn(
        "_sim",
        F.round(cosine_similarity(F.col("embedding"), F.col("_qv")), 6),
    )
    w3 = Window.partitionBy("qid").orderBy(F.desc("_sim"), F.col("vec_id"))
    exact10 = (
        ex.withColumn("_r", F.row_number().over(w3))
        .filter(F.col("_r") <= 10)
        .select("qid", "vec_id")
    )
    hits = ivf10.join(exact10, ["qid", "vec_id"]).groupBy(
        "qid", "n_probe"
    ).agg(F.count("*").alias("_hit"))
    frame = qs.select(
        "qid",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(4))).alias("n_probe"),
    )
    per_q = frame.join(hits, ["qid", "n_probe"], "left").select(
        "qid", "n_probe", F.coalesce("_hit", F.lit(0)).alias("_hit")
    )
    return (
        per_q.groupBy("n_probe")
        .agg(
            # exact k/(10n) rational (r9 port): hit counts are 0..10
            # ints, so the mean is one exact integer division
            (
                F.floor(
                    F.sum("_hit").cast("double") * 100000
                    / F.count(F.lit(1))
                )
                / 1e6
                + 0.0
            ).alias("recall_at_10"),
            F.count("*").cast("long").alias("n_queries"),
        )
        .orderBy("n_probe")
    )


# per-user lifetime state is associative min/max/max_by — its
# snapshot equals the batch per-user table, so the batch KM SQL
# is the oracle
@query(oracle_of="survival_km")
def q_t15_stream_survival(spark, sf):
    """T15 — streaming survival analysis: per-user lifetime state
    (first/last event, last type) maintained as ONE associative
    streaming aggregate (min / max / max_by), then the Kaplan-Meier
    finale over the snapshot.  Over identical rows the snapshot equals
    the batch per-user table, so the batch KM SQL is the parity
    oracle."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_user_lifetimes,
        table_stream,
    )

    stream = table_stream(spark, sf, "events")
    lifetimes = stream_user_lifetimes(stream)
    per_user = drain_to_memory(lifetimes, "t15_stream_survival_state").select(
        F.expr("(last_tus - first_tus) div 86400000000").alias("duration"),
        (F.col("last_type") == "error").alias("observed"),
    )
    return ev.kaplan_meier(per_user, "duration", "observed")


@query(oracle="""
            WITH base AS (
              SELECT event_type, value AS v,
                     substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '8' AS cal
              FROM events),
            pred AS (
              SELECT event_type,
                     CAST(sum(CASE WHEN cal THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_calib,
                     CAST(count(*) - sum(CASE WHEN cal THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_test,
                     floor(CAST(sum(CASE WHEN cal AND NOT isnan(v)
                                    THEN CAST(floor(v * 1000000)
                                              AS BIGINT) END) AS DOUBLE)
                           / count(CASE WHEN cal AND NOT isnan(v)
                                   THEN 1 END)) / 1e6 + 0.0 AS mu
              FROM base GROUP BY 1),
            scored AS (
              SELECT b.event_type, b.cal, abs(b.v - p.mu) AS resid,
                     p.n_calib, p.n_test
              FROM base b JOIN pred p USING (event_type)),
            stats AS (
              SELECT event_type, any_value(n_calib) AS n_calib,
                     any_value(n_test) AS n_test,
                     quantile_cont(CASE WHEN cal THEN resid END, 0.9) AS q
              FROM scored GROUP BY 1),
            cov AS (
              SELECT s.event_type,
                     floor(CAST(sum(CASE WHEN st.q IS NULL
                                         OR s.resid IS NULL THEN NULL
                                    WHEN s.resid <= st.q THEN 1
                                    ELSE 0 END) AS DOUBLE) * 1000000
                           / count(CASE WHEN st.q IS NULL
                                        OR s.resid IS NULL THEN NULL
                                   ELSE 1 END)) / 1e6 + 0.0 AS coverage
              FROM scored s JOIN stats st USING (event_type)
              WHERE NOT s.cal GROUP BY 1)
            SELECT st.event_type, n_calib, n_test, round(q, 6) AS qhat,
                   coverage
            FROM stats st LEFT JOIN cov USING (event_type)
            ORDER BY st.event_type
        """)
def q_conformal_interval(spark, sf):
    """Split-conformal prediction intervals per event type: md5-half
    calibration split, |residual| quantile as the distribution-free
    interval half-width, empirical coverage verified on the held-out
    half (≈ 1−α by the conformal guarantee).  Two passes of
    partial-combinable aggregates; the exact quantile sorts only
    within a group's calibration residuals."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    events = _t(spark, sf, "events")
    return ev.conformal_interval(
        events, "event_type", "value", "event_id", alpha=0.1
    )


@query(oracle="""
            WITH two AS (
              SELECT event_id AS id, event_type AS g,
                     CASE WHEN NOT isnan(value)
                          THEN CAST(floor(value * 1000000) AS BIGINT)
                     END AS q
              FROM events WHERE event_type IN ('click', 'view')),
            obs AS (
              SELECT floor(CAST(sum(CASE WHEN g = 'click' THEN q END)
                                AS DOUBLE)
                           / count(CASE WHEN g = 'click' THEN q END))
                       / 1e6
                     - floor(CAST(sum(CASE WHEN g = 'view' THEN q END)
                                  AS DOUBLE)
                             / count(CASE WHEN g = 'view' THEN q END))
                       / 1e6 + 0.0 AS obs_diff
              FROM two),
            reps AS (
              SELECT t.q, r.rep,
                     (('0x' || substr(md5(CAST(t.id AS VARCHAR) || '|'
                                          || CAST(r.rep AS VARCHAR)), 1, 12))
                       ::BIGINT + 0.5) / 281474976710656.0 < 0.5 AS a
              FROM two t
              CROSS JOIN (SELECT unnest(generate_series(0, 199)) AS rep) r),
            d AS (
              SELECT rep,
                     floor(CAST(sum(CASE WHEN a THEN q END) AS DOUBLE)
                           / count(CASE WHEN a THEN q END)) / 1e6
                     - floor(CAST(sum(CASE WHEN NOT a THEN q END)
                                  AS DOUBLE)
                             / count(CASE WHEN NOT a THEN q END)) / 1e6
                     + 0.0 AS d
              FROM reps GROUP BY rep),
            ex AS (
              SELECT floor(CAST(1 + sum(CASE WHEN o.obs_diff IS NULL
                                             OR d IS NULL THEN NULL
                                        WHEN abs(d) >= abs(o.obs_diff)
                                        THEN 1 ELSE 0 END) AS DOUBLE)
                           * 1000000 / 201.0) / 1e6 + 0.0 AS p_value,
                     CAST(count(*) AS BIGINT) AS n_perm
              FROM d CROSS JOIN obs o)
            SELECT obs_diff, p_value, n_perm FROM obs CROSS JOIN ex
        """)
def q_permutation_test(spark, sf):
    """Randomization test for the click-vs-view mean difference:
    deterministic md5 coin re-assigns arms per replicate (binomial-
    split variant — no global label shuffle), 200 replicate diffs fold
    map-side, two-sided p-value against the observed diff.  The
    nonparametric companion to ab_welch_ttest."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    events = _t(spark, sf, "events")
    return ev.permutation_test(
        events, "event_type", "value", "event_id", "click", "view",
        n_perm=200,
    )


@query(oracle="""
            WITH q AS (
              SELECT l_returnflag,
                     CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
                     CAST(floor(l_discount * 10000) AS BIGINT) AS bp
              FROM lineitem)
            SELECT l_returnflag,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS gross_cents,
                   CAST(sum(CAST(cents * (10000 - bp) AS DECIMAL(38,0)))
                        AS BIGINT) AS revenue_e6
            FROM q GROUP BY 1 ORDER BY 1
        """)
def q_money_exact(spark, sf):
    """Exact-money arithmetic surface: prices quantize to integer
    cents and discounts to basis points via ``floor`` (tie-free and
    bit-identical across engines, unlike decimal half-up vs half-even
    casts), then revenue accumulates in DECIMAL(38,0) micro-units —
    no float drift, no rounding-mode divergence, partial-combinable.
    The pattern a financial pipeline uses instead of summing doubles."""
    li = _t(spark, sf, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    bp = F.floor(F.col("l_discount") * 10000).cast("long")
    unit = (cents * (F.lit(10000) - bp)).cast("decimal(38,0)")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(cents).cast("long").alias("gross_cents"),
            # BIGINT presentation fits through ~sf100; the DECIMAL(38,0)
            # accumulator above is what survives 100 TB
            F.sum(unit).cast("long").alias("revenue_e6"),
        )
        .orderBy("l_returnflag")
    )


@query(oracle="""
            WITH d AS (
              SELECT doc_id AS media_id, text, length(text) AS n_units
              FROM (SELECT * REPLACE (coalesce(text, '') AS text)
                    FROM documents) documents),
            dims AS (SELECT unnest(generate_series(0, 15)) AS dim),
            ch AS (
              SELECT media_id, unnest(string_split(text, '')) AS c FROM d),
            bc AS (
              SELECT media_id, least(ascii(c), 255) // 16 AS dim,
                     count(*) AS cnt
              FROM ch WHERE c <> '' GROUP BY 1, 2),
            f AS (
              SELECT d.media_id, d.n_units, dims.dim,
                     CAST(coalesce(bc.cnt, 0) AS BIGINT) AS cnt
              FROM d CROSS JOIN dims
              LEFT JOIN bc ON bc.media_id = d.media_id
                AND bc.dim = dims.dim)
            SELECT media_id, CAST(n_units AS BIGINT) AS n_units,
                   CAST(dim AS INT) AS dim, cnt,
                   CASE WHEN n_units > 0
                        THEN floor(cnt * 1000000 / n_units) / 1000000
                        ELSE 0.0 END AS frac
            FROM f
        """)
def q_mm_extract_features(spark, sf):
    """Multimodal feature-extraction plumbing: payloads through the
    Arrow-batched mapInPandas extractor (deterministic codepoint-
    bucket histogram fake; real model kernels import-gated).  The
    kernel emits INTEGER counts — exact in any engine — and the
    normalized fraction is floor-quantized column math, so the whole
    Python extraction stage is SQL-replayable and hash-verified."""
    from pdf_to_vectordb_etl_spark.operators import multimodal

    docs = _t(spark, sf, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    media = multimodal.as_media(
        docs.withColumn("payload", F.encode("text", "UTF-8")),
        "payload",
        "doc_id",
    )
    out = multimodal.extract_features(media)
    ex = out.select(
        "media_id", "n_units", F.posexplode("counts").alias("dim", "cnt")
    )
    frac = F.when(
        F.col("n_units") > 0,
        F.floor(F.col("cnt") * 1000000 / F.col("n_units")) / 1000000,
    ).otherwise(F.lit(0.0))
    return ex.select(
        "media_id", "n_units", "dim", "cnt", frac.alias("frac")
    )


# the live histogram is an associative sum over the same split/
# binning literals — snapshot == the batch 'cur' half, so the
# batch PSI SQL is the oracle
@query(oracle_of="psi_drift")
def q_t16_stream_psi(spark, sf):
    """T16 — streaming drift monitoring: the live-window value
    histogram maintained as an associative streaming sum (state
    bounded at groups×bins rows), scored against a batch-trained
    reference histogram with the SAME smoothing/fold as the batch PSI
    (profiling.psi_from_counts — one code path for both).  Bounds
    (time midpoint as exact integer ceil, value range) train
    batch-side and enter the stream as literals, so over identical
    rows the snapshot equals the batch 'cur' half and the batch PSI
    SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators.profiling import psi_from_counts
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_psi_counts,
        table_stream,
    )

    ev = _t(spark, sf, "events").select(
        "event_type", F.expr("ts div 1000").alias("tus"), "value"
    )
    b = ev.agg(
        F.min("tus").alias("t_lo"),
        F.max("tus").alias("t_hi"),
        F.min("value").alias("v_lo"),
        F.max("value").alias("v_hi"),
    ).first()
    # integer ceil of the midpoint: tus >= ceil(mid) == NOT(tus < mid)
    # for integer tus, so the stream's filter matches the batch split
    t_mid = (int(b.t_lo) + int(b.t_hi) + 1) // 2
    span = float(b.v_hi) - float(b.v_lo)
    bin_expr = (
        F.lit(0)
        if span == 0
        else F.least(
            F.lit(9),
            F.floor((F.col("value") - F.lit(float(b.v_lo))) / F.lit(span) * 10)
            .cast("int"),
        )
    )
    ref_counts = (
        ev.filter(F.col("tus") < t_mid)
        .select("event_type", bin_expr.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("c"))
        .withColumn("half", F.lit("ref"))
    )

    stream = table_stream(spark, sf, "events")
    live = stream_psi_counts(
        stream, t_mid, float(b.v_lo), float(b.v_hi), "event_type", "value", 10
    )
    cur_counts = drain_to_memory(live, "t16_stream_psi_counts").withColumn(
        "half", F.lit("cur")
    )
    counts = ref_counts.unionByName(cur_counts.select(
        "event_type", "bin", "c", "half"
    ))
    return psi_from_counts(counts, by="event_type", bins=10)


@query(oracle="""
            WITH d AS (
              SELECT doc_id + 1 AS node, n_chars FROM documents),
            anc AS (
              SELECT n_chars,
                     unnest(list_filter(
                       list_transform(generate_series(0, 40),
                                      i -> node // pow(2, i)::BIGINT),
                       a -> a > 0)) AS anode
              FROM d),
            agg AS (
              SELECT CAST(anode AS BIGINT) AS anode,
                     CAST(count(*) AS BIGINT) AS subtree_docs,
                     CAST(sum(n_chars) AS BIGINT) AS subtree_chars
              FROM anc GROUP BY 1)
            SELECT d.node - 1 AS doc_id, subtree_docs, subtree_chars
            FROM agg JOIN d ON agg.anode = d.node
            ORDER BY doc_id
        """)
def q_tree_rollup(spark, sf):
    """Hierarchical subtree rollup without iteration: over the
    implicit binary tree parent(d) = d div 2, every doc's ancestor
    chain is CLOSED-FORM (shiftright cascade, ≤ 64 levels at any id
    width), so the per-ancestor subtree aggregate is one explode +
    hash agg — the pointer-jumping alternative for when the hierarchy
    is an iterative fixpoint lives in graph.k_hop_reachability.  Each
    node reports its subtree's doc count and total chars (itself
    included)."""
    docs = _t(spark, sf, "documents").select(
        (F.col("doc_id") + 1).alias("node"), "n_chars"
    )
    anc = docs.select(
        "n_chars",
        F.explode(
            F.expr(
                "filter(transform(sequence(0, 40), "
                "i -> shiftright(node, i)), a -> a > 0)"
            )
        ).alias("anode"),
    )
    return (
        anc.groupBy("anode")
        .agg(
            F.count("*").cast("long").alias("subtree_docs"),
            F.sum("n_chars").cast("long").alias("subtree_chars"),
        )
        .join(docs.select(F.col("node").alias("anode")), "anode")
        .select(
            (F.col("anode") - 1).alias("doc_id"),
            "subtree_docs",
            "subtree_chars",
        )
        .orderBy("doc_id")
    )


@query(oracle="""
            WITH ev AS (
              SELECT event_type, epoch_us(ts) AS tus, event_id, value
              FROM events),
            med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS m
              FROM ev GROUP BY 1),
            signed AS (
              SELECT ev.event_type, tus, event_id,
                     CASE WHEN value > m THEN 1 ELSE 0 END AS s
              FROM ev JOIN med USING (event_type)
              WHERE value <> m),
            runs AS (
              SELECT event_type, s,
                     CASE WHEN lag(s) OVER (PARTITION BY event_type
                            ORDER BY tus, event_id) IS NULL
                          OR lag(s) OVER (PARTITION BY event_type
                            ORDER BY tus, event_id) <> s
                          THEN 1 ELSE 0 END AS chg
              FROM signed),
            agg AS (
              SELECT event_type,
                     CAST(sum(chg) AS BIGINT) AS n_runs,
                     CAST(sum(s) AS BIGINT) AS n_above,
                     CAST(count(*) - sum(s) AS BIGINT) AS n_below
              FROM runs GROUP BY 1)
            SELECT event_type, n_runs, n_above, n_below,
                   round(CASE WHEN n_above > 0 AND n_below > 0
                              AND n_above + n_below > 1
                              AND 2.0 * n_above * n_below
                                  > n_above + n_below
                         THEN (n_runs - (2.0 * n_above * n_below
                                         / (n_above + n_below) + 1.0))
                              / sqrt(2.0 * n_above * n_below
                                     * (2.0 * n_above * n_below
                                        - n_above - n_below)
                                     / (CAST(n_above + n_below AS DOUBLE)
                                        * (n_above + n_below)
                                        * (n_above + n_below - 1.0)))
                         END, 4) AS z_runs
            FROM agg ORDER BY event_type
        """)
def q_runs_test(spark, sf):
    """Wald-Wolfowitz runs test per event type: is the time-ordered
    sequence of above/below-median values random, or does it trend /
    oscillate?  Median from one exact per-group percentile agg
    (broadcast back), signs and run boundaries from a per-key
    PARTITIONED lag window, then the closed-form normal approximation
    z = (R − E[R]) / √Var.  Values equal to the median drop (the
    classical convention); degenerate groups (n₁ or n₂ = 0, or
    Var = 0) report NULL, never a /0 crash."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events").select(
        "event_type", F.expr("ts div 1000").alias("tus"), "event_id", "value"
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("_med")
    )
    signed = (
        ev.join(F.broadcast(med), "event_type")
        .filter(F.col("value") != F.col("_med"))
        .select(
            "event_type",
            "tus",
            "event_id",
            (F.col("value") > F.col("_med")).cast("int").alias("s"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("tus", "event_id")
    runs = signed.withColumn(
        "_chg",
        F.when(
            F.lag("s").over(w).isNull() | (F.lag("s").over(w) != F.col("s")),
            1,
        ).otherwise(0),
    )
    agg = runs.groupBy("event_type").agg(
        F.sum("_chg").cast("long").alias("n_runs"),
        F.sum("s").cast("long").alias("n_above"),
        (F.count("*") - F.sum("s")).cast("long").alias("n_below"),
    )
    n1 = F.col("n_above").cast("double")
    n2 = F.col("n_below").cast("double")
    n = n1 + n2
    e_runs = 2.0 * n1 * n2 / n + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / (n * n * (n - 1.0))
    )
    z = (F.col("n_runs") - e_runs) / F.sqrt(var)
    return agg.select(
        "event_type",
        "n_runs",
        "n_above",
        "n_below",
        F.round(
            F.when(
                (n1 > 0) & (n2 > 0) & (n > 1)
                & (2.0 * n1 * n2 > n1 + n2),
                z,
            ),
            4,
        ).alias("z_runs"),
    ).orderBy("event_type")


@query(oracle="""
            WITH raw AS (
              SELECT CAST(greatest(0, least(floor(value / 10.0), 49)) AS INT)
                       AS bin,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
              FROM events WHERE value IS NOT NULL),
            bins AS MATERIALIZED (
              SELECT bin, CAST(count(*) AS BIGINT) AS w,
                     CAST(sum(y) AS BIGINT) AS s
              FROM raw GROUP BY bin),
            cum AS MATERIALIZED (
              SELECT a.bin, a.w, a.s,
                     CAST(sum(c.w) AS BIGINT) AS wc,
                     CAST(sum(c.s) AS BIGINT) AS sc
              FROM bins a JOIN bins c ON c.bin <= a.bin
              GROUP BY a.bin, a.w, a.s),
            pairs AS MATERIALIZED (
              SELECT j.bin AS jbin, k.bin AS kbin,
                     CAST(k.sc - (j.sc - j.s) AS DOUBLE)
                       / CAST(k.wc - (j.wc - j.w) AS DOUBLE) AS av
              FROM cum j JOIN cum k ON j.bin <= k.bin),
            inner_ AS (
              SELECT i.bin AS ibin, i.w, i.s, p.jbin, min(p.av) AS m
              FROM pairs p JOIN bins i
                ON p.jbin <= i.bin AND p.kbin >= i.bin
              GROUP BY i.bin, i.w, i.s, p.jbin)
            SELECT ibin AS bin, w AS n,
                   round(CAST(s AS DOUBLE) / w, 6) AS pos_rate,
                   round(max(m), 6) AS iso
            FROM inner_ GROUP BY ibin, w, s ORDER BY bin
        """)
def q_calibration_isotonic(spark, sf):
    """Weighted isotonic (PAVA-semantics) calibration of purchase rate
    vs event value on a 50-bin grid: one map-side agg folds the corpus
    to <=50 rows, then the closed-form minimax characterization
    (max_{j<=i} min_{k>=i} interval mean) runs as bounded triangular
    self-joins on that tiny relation — no convergence loop, no global
    window, integer-ratio arithmetic that is bit-identical across
    engines."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    events = _t(spark, sf, "events")
    return ev.isotonic_calibration(
        events, "value", F.col("event_type") == "purchase",
        n_bins=50, lo=0.0, hi=500.0,
    )


@query(oracle="""
            WITH per AS (
              SELECT CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS bucket,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
              FROM events GROUP BY 1),
            per2 AS (SELECT bucket, n, n_pos, n - n_pos AS n_neg FROM per),
            tot AS (
              SELECT CAST(sum(n_pos) AS BIGINT) AS p,
                     CAST(sum(n_neg) AS BIGINT) AS nn
              FROM per2)
            SELECT bucket, n, n_pos,
                   round(CASE WHEN n_pos > 0 AND n_neg > 0
                              AND p > 0 AND nn > 0
                         THEN ln((CAST(n_pos AS DOUBLE) / p)
                                 / (CAST(n_neg AS DOUBLE) / nn)) END, 6)
                     AS woe,
                   round(CASE WHEN n_pos > 0 AND n_neg > 0
                              AND p > 0 AND nn > 0
                         THEN (CAST(n_pos AS DOUBLE) / p
                               - CAST(n_neg AS DOUBLE) / nn)
                              * ln((CAST(n_pos AS DOUBLE) / p)
                                   / (CAST(n_neg AS DOUBLE) / nn)) END, 6)
                     AS iv_contrib
            FROM per2 CROSS JOIN tot ORDER BY bucket
        """)
def q_eval_woe_iv(spark, sf):
    """Weight-of-evidence / information value of the hour-of-day
    feature against the purchase target: does time-of-day separate
    purchasers?  One bucket agg + one broadcast totals join; NULL WoE
    on single-class buckets."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    events = _t(spark, sf, "events")
    return ev.woe_iv(
        events,
        F.expr("(ts div 3600000000000) % 24").cast("int"),
        F.col("event_type") == "purchase",
    )


@query(oracle="""
            WITH keyed AS (
              SELECT CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
                          AS INT) AS k,
                     CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)),
                                          1, 2))::BIGINT % 64 AS INT)
                       AS hash64,
                     CAST(year(CAST(l_shipdate AS DATE)) * 12
                          + month(CAST(l_shipdate AS DATE)) AS INT)
                       AS bymonth
              FROM lineitem),
            bounds AS (
              SELECT CAST(DATE '1996-01-01' - DATE '1970-01-01' AS INT)
                       AS lo,
                     CAST(DATE '1996-12-31' - DATE '1970-01-01' AS INT)
                       AS hi),
            zh AS (
              SELECT hash64 AS shard, min(k) AS kmin, max(k) AS kmax,
                     CAST(count(*) AS BIGINT) AS n
              FROM keyed GROUP BY 1),
            zm AS (
              SELECT bymonth AS shard, min(k) AS kmin, max(k) AS kmax,
                     CAST(count(*) AS BIGINT) AS n
              FROM keyed GROUP BY 1),
            rep AS (
              SELECT 'hash64' AS layout,
                     CAST(count(*) AS BIGINT) AS n_shards,
                     CAST(sum(CASE WHEN kmax >= lo AND kmin <= hi
                              THEN 1 ELSE 0 END) AS BIGINT)
                       AS shards_scanned,
                     CAST(sum(n) AS BIGINT) AS rows_total,
                     CAST(sum(CASE WHEN kmax >= lo AND kmin <= hi
                              THEN n ELSE 0 END) AS BIGINT)
                       AS rows_scanned
              FROM zh CROSS JOIN bounds
              UNION ALL
              SELECT 'bymonth',
                     CAST(count(*) AS BIGINT),
                     CAST(sum(CASE WHEN kmax >= lo AND kmin <= hi
                              THEN 1 ELSE 0 END) AS BIGINT),
                     CAST(sum(n) AS BIGINT),
                     CAST(sum(CASE WHEN kmax >= lo AND kmin <= hi
                              THEN n ELSE 0 END) AS BIGINT)
              FROM zm CROSS JOIN bounds)
            SELECT layout, n_shards, shards_scanned, rows_total,
                   rows_scanned,
                   round(100.0 * (1.0 - CAST(rows_scanned AS DOUBLE)
                         / nullif(CAST(rows_total AS DOUBLE), 0.0)), 4)
                     AS prune_pct
            FROM rep ORDER BY layout
        """)
def q_zonemap_prune(spark, sf):
    """Data-skipping planner: would a 1996 ship-date filter prune
    files under (a) hash-of-orderkey ingest layout vs (b) monthly
    date clustering?  Zone maps (per-shard min/max — the parquet
    footer-stat equivalent) from two map-side aggs per layout; the
    date-clustered layout should skip ~6/7 of rows, the hash layout
    nothing."""
    from pdf_to_vectordb_etl_spark.operators import zorder

    li = _t(spark, sf, "lineitem")
    day = F.expr("datediff(CAST(l_shipdate AS DATE), DATE '1970-01-01')")
    d = F.expr("CAST(l_shipdate AS DATE)")
    layouts = {
        "hash64": F.conv(
            F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 2),
            16, 10,
        ).cast("int") % 64,
        "bymonth": (F.year(d) * 12 + F.month(d)).cast("int"),
    }
    return zorder.zonemap_prune_report(
        li, day, layouts,
        F.expr("datediff(DATE '1996-01-01', DATE '1970-01-01')"),
        F.expr("datediff(DATE '1996-12-31', DATE '1970-01-01')"),
    )


@query(oracle=r"""
            WITH toks AS (
              SELECT source AS g,
                     unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            tks AS (SELECT g, tok FROM toks WHERE length(tok) > 0),
            vocab AS MATERIALIZED (
              SELECT tok FROM tks GROUP BY tok
              ORDER BY count(*) DESC, tok LIMIT 200),
            gc AS MATERIALIZED (
              SELECT g, tok, CAST(count(*) AS BIGINT) AS c
              FROM tks JOIN vocab USING (tok) GROUP BY g, tok),
            tot AS (
              SELECT g, CAST(sum(c) AS BIGINT) AS t
              FROM gc GROUP BY g HAVING sum(c) > 0),
            grid AS MATERIALIZED (
              SELECT tot.g, v.tok,
                     CAST(coalesce(gc.c, 0) AS DOUBLE)
                       / CAST(tot.t AS DOUBLE) AS p
              FROM tot CROSS JOIN vocab v
              LEFT JOIN gc ON gc.g = tot.g AND gc.tok = v.tok),
            pairs AS (
              SELECT a.g AS g1, b.g AS g2, a.p AS pa, b.p AS pb
              FROM grid a JOIN grid b ON a.tok = b.tok AND a.g < b.g)
            SELECT g1, g2,
                   round(0.5 * CAST(sum(CAST(floor(
                     (CASE WHEN pa > 0
                           THEN pa * ln(pa / ((pa + pb) / 2.0))
                           ELSE 0.0 END
                      + CASE WHEN pb > 0
                             THEN pb * ln(pb / ((pa + pb) / 2.0))
                             ELSE 0.0 END) * 1e12) AS BIGINT))
                     AS DOUBLE) / 1e12, 6) AS jsd
            FROM pairs GROUP BY g1, g2 ORDER BY g1, g2
        """)
def q_js_divergence_sources(spark, sf):
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions on the global top-200 vocabulary — the symmetric
    corpus-slice-difference number behind mixture rebalancing.  One
    explode+agg sees the corpus; everything else runs on the
    sources×200 grid.  Terms are floor-quantized to 1e-12 and summed
    as integers so the reduction is order-free on both engines."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    docs = _t(spark, sf, "documents")
    return ta.js_divergence_pairs(docs, "source", "text", top_v=200)


@query(oracle="""
            WITH raw AS (
              SELECT CAST(least(greatest(floor(value / 0.5), 0), 999)
                          AS INT) AS bin,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
              FROM events WHERE value IS NOT NULL),
            binned AS (
              SELECT bin, CAST(sum(y) AS BIGINT) AS pos,
                     CAST(count(*) - sum(y) AS BIGINT) AS neg
              FROM raw GROUP BY bin),
            cum AS (
              SELECT bin,
                     CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS pl,
                     CAST(sum(neg) OVER (ORDER BY bin) AS BIGINT) AS ql
              FROM binned),
            tot AS (
              SELECT CAST(sum(pos) AS BIGINT) AS tp,
                     CAST(sum(neg) AS BIGINT) AS tq
              FROM binned),
            scored AS (
              SELECT bin AS split_bin,
                     round(CAST((bin + 1) * 0.5 AS DOUBLE), 6) AS threshold,
                     round(
                       ((pl + ql) / (CAST(tp + tq AS DOUBLE)))
                       * (1.0 - (CAST(pl AS DOUBLE) / (pl + ql))
                               * (CAST(pl AS DOUBLE) / (pl + ql))
                             - (CAST(ql AS DOUBLE) / (pl + ql))
                               * (CAST(ql AS DOUBLE) / (pl + ql)))
                       + ((tp - pl + tq - ql)
                          / (CAST(tp + tq AS DOUBLE)))
                       * (1.0 - (CAST(tp - pl AS DOUBLE)
                                 / (tp - pl + tq - ql))
                               * (CAST(tp - pl AS DOUBLE)
                                  / (tp - pl + tq - ql))
                             - (CAST(tq - ql AS DOUBLE)
                                / (tp - pl + tq - ql))
                               * (CAST(tq - ql AS DOUBLE)
                                  / (tp - pl + tq - ql))), 6) AS gini,
                     pl + ql AS n_left,
                     tp - pl + tq - ql AS n_right
              FROM cum CROSS JOIN tot
              WHERE pl + ql > 0 AND tp - pl + tq - ql > 0)
            SELECT split_bin, threshold, gini,
                   CAST(n_left AS BIGINT) AS n_left,
                   CAST(n_right AS BIGINT) AS n_right
            FROM scored ORDER BY gini, split_bin LIMIT 1
        """)
def q_stump_value_split(spark, sf):
    """Depth-1 decision tree: the single best value threshold (by
    weighted Gini) separating purchases from the rest, fit on the
    fixed 1000-bin score grid — one map-side histogram, cumulative
    counts over the bounded bin table (audit-allowlisted), exact
    integer impurity inputs, deterministic (gini, bin) argmin."""
    from pdf_to_vectordb_etl_spark.operators import supervised

    events = _t(spark, sf, "events")
    return supervised.stump_split(
        events, "value", F.col("event_type") == "purchase",
        n_bins=1000, lo=0.0, hi=500.0,
    )


@query(oracle="""
            WITH d AS (
              SELECT event_type AS g,
                     CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT)
                       AS x1,
                     CAST(((epoch_us(ts) // 86400000000) + 4) % 7
                          AS BIGINT) AS x2,
                     CAST(floor(value * 100) AS BIGINT) AS y
              FROM events),
            s AS (
              SELECT g, CAST(count(*) AS HUGEINT) AS n,
                     CAST(sum(x1) AS HUGEINT) AS s1,
                     CAST(sum(x2) AS HUGEINT) AS s2,
                     CAST(sum(x1 * x1) AS HUGEINT) AS s11,
                     CAST(sum(x1 * x2) AS HUGEINT) AS s12,
                     CAST(sum(x2 * x2) AS HUGEINT) AS s22,
                     CAST(sum(y) AS HUGEINT) AS sy,
                     CAST(sum(x1 * y) AS HUGEINT) AS s1y,
                     CAST(sum(x2 * y) AS HUGEINT) AS s2y
              FROM d GROUP BY g),
            -- mirror the Spark-side decimal(38) overflow guard: any
            -- statistic past 1e12 yields NULL betas on BOTH engines
            -- (HUGEINT would keep computing where Spark cannot)
            sg AS (
              SELECT *, greatest(CAST(n AS DOUBLE), abs(CAST(s1 AS DOUBLE)),
                       abs(CAST(s2 AS DOUBLE)), abs(CAST(s11 AS DOUBLE)),
                       abs(CAST(s12 AS DOUBLE)), abs(CAST(s22 AS DOUBLE)),
                       abs(CAST(sy AS DOUBLE)), abs(CAST(s1y AS DOUBLE)),
                       abs(CAST(s2y AS DOUBLE))) <= 1e12 AS fits
              FROM s),
            dets AS (
              SELECT g, n, fits,
                     n * (s11 * s22 - s12 * s12)
                       - s1 * (s1 * s22 - s12 * s2)
                       + s2 * (s1 * s12 - s11 * s2) AS det,
                     sy * (s11 * s22 - s12 * s12)
                       - s1 * (s1y * s22 - s12 * s2y)
                       + s2 * (s1y * s12 - s11 * s2y) AS d0,
                     n * (s1y * s22 - s12 * s2y)
                       - sy * (s1 * s22 - s12 * s2)
                       + s2 * (s1 * s2y - s1y * s2) AS d1,
                     n * (s11 * s2y - s1y * s12)
                       - s1 * (s1 * s2y - s1y * s2)
                       + sy * (s1 * s12 - s11 * s2) AS d2
              FROM sg)
            SELECT g AS "group", CAST(n AS BIGINT) AS n,
                   round(CASE WHEN fits AND det <> 0
                         THEN CAST(d0 AS DOUBLE) / CAST(det AS DOUBLE)
                         END, 6) AS b0,
                   round(CASE WHEN fits AND det <> 0
                         THEN CAST(d1 AS DOUBLE) / CAST(det AS DOUBLE)
                         END, 6) AS b1,
                   round(CASE WHEN fits AND det <> 0
                         THEN CAST(d2 AS DOUBLE) / CAST(det AS DOUBLE)
                         END, 6) AS b2
            FROM dets ORDER BY g
        """)
def q_ols_value_by_time(spark, sf):
    """Per-event-type two-feature OLS (value-cents ~ hour-of-day +
    day-of-week) solved in closed form: one 9-sufficient-statistics
    agg per group, exact decimal Cramer determinants over integer
    sums — bit-identical coefficients on any engine or partitioning;
    singular groups yield NULL betas."""
    from pdf_to_vectordb_etl_spark.operators import supervised

    events = _t(spark, sf, "events")
    return supervised.ols_closed_form(
        events,
        "event_type",
        F.expr("(ts div 3600000000000) % 24"),
        F.expr("((ts div 86400000000000) + 4) % 7"),
        F.floor(F.col("value") * 100),
    )


@query(oracle="""
            WITH raw AS (
              SELECT CAST(least(greatest(floor(value / 0.5), 0), 999)
                          AS INT) AS bin,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS y
              FROM events WHERE value IS NOT NULL),
            binned AS (
              SELECT bin, CAST(sum(y) AS BIGINT) AS pos,
                     CAST(count(*) - sum(y) AS BIGINT) AS neg
              FROM raw GROUP BY bin),
            cum AS (
              SELECT bin, pos, neg,
                     CAST(coalesce(sum(neg) OVER (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS negb,
                     CAST(coalesce(sum(pos) OVER (ORDER BY bin
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING),
                       0) AS BIGINT) AS posa
              FROM binned),
            tot AS (
              SELECT CAST(sum(pos) AS BIGINT) AS n1,
                     CAST(sum(neg) AS BIGINT) AS n0
              FROM binned),
            a AS (
              SELECT n1, n0,
                     (SELECT sum(pos * (negb + neg / 2.0)) FROM cum)
                       / nullif(CAST(n1 AS DOUBLE) * n0, 0.0) AS auc_x
              FROM tot),
            q AS (
              SELECT a.n1, a.n0, a.auc_x,
                     sum(CASE WHEN a.n0 > 0 AND a.n1 > 0 THEN
                       CAST(floor(((c.pos
                         * ((c.negb + c.neg / 2.0)
                            / CAST(a.n0 AS DOUBLE) - a.auc_x))
                         * ((c.negb + c.neg / 2.0)
                            / CAST(a.n0 AS DOUBLE) - a.auc_x))
                         * 1e12) AS BIGINT) END) AS s10q,
                     sum(CASE WHEN a.n0 > 0 AND a.n1 > 0 THEN
                       CAST(floor(((c.neg
                         * ((c.posa + c.pos / 2.0)
                            / CAST(a.n1 AS DOUBLE) - a.auc_x))
                         * ((c.posa + c.pos / 2.0)
                            / CAST(a.n1 AS DOUBLE) - a.auc_x))
                         * 1e12) AS BIGINT) END) AS s01q
              FROM a LEFT JOIN cum c ON TRUE
              GROUP BY a.n1, a.n0, a.auc_x)
            SELECT round(auc_x, 6) AS auc,
                   round(CASE WHEN n1 > 1 AND n0 > 1 THEN
                     sqrt((CAST(s10q AS DOUBLE) / 1e12 / (n1 - 1)) / n1
                          + (CAST(s01q AS DOUBLE) / 1e12 / (n0 - 1)) / n0)
                     END, 6) AS se,
                   round(CASE WHEN n1 > 1 AND n0 > 1 THEN
                     auc_x - 1.96 * sqrt(
                       (CAST(s10q AS DOUBLE) / 1e12 / (n1 - 1)) / n1
                       + (CAST(s01q AS DOUBLE) / 1e12 / (n0 - 1)) / n0)
                     END, 6) AS ci_lo,
                   round(CASE WHEN n1 > 1 AND n0 > 1 THEN
                     auc_x + 1.96 * sqrt(
                       (CAST(s10q AS DOUBLE) / 1e12 / (n1 - 1)) / n1
                       + (CAST(s01q AS DOUBLE) / 1e12 / (n0 - 1)) / n0)
                     END, 6) AS ci_hi,
                   n1 AS n_pos, n0 AS n_neg
            FROM q
        """)
def q_eval_auc_delong(spark, sf):
    """AUC with DeLong SE and 95% CI on the fixed 1000-bin grid —
    placement values collapse to bin-weighted moments; the (V−auc)²
    sums are 1e-12 floor-quantized integers so the statistic is
    order-free and engine-identical (windows over the bounded bin
    table; audit-allowlisted)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    events = _t(spark, sf, "events")
    return ev.auc_delong_ci(
        events, "value", F.col("event_type") == "purchase",
        n_bins=1000, lo=0.0, hi=500.0,
    )


@query(oracle=r"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END
                       AS n_tokens,
                     len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                     len(regexp_extract_all(lower(text),
                         '\b(the|a|of|and|to|in|is|it)\b')) AS n_stop,
                     len(regexp_extract_all(text, '[A-Z]')) AS n_upper
              FROM documents),
            g AS (
              SELECT doc_id,
                     round(CASE WHEN n_tokens > 0
                           THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens
                           ELSE 0.0 END, 6) AS mean_token_len,
                     round(CASE WHEN n_chars > 0
                           THEN n_punct * 1.0 / n_chars ELSE 0.0 END, 6)
                       AS punct_ratio,
                     round(CASE WHEN n_tokens > 0
                           THEN n_stop * 1.0 / n_tokens ELSE 0.0 END, 6)
                       AS stopword_ratio,
                     round(CASE WHEN n_chars > 0
                           THEN n_upper * 1.0 / n_chars ELSE 0.0 END, 6)
                       AS upper_ratio,
                     round(ln(1.0 + n_tokens), 6) AS log1p_tokens
              FROM f),
            z AS (
              SELECT doc_id,
                     round(-2.2 + 3.2 * stopword_ratio + -6.0 * punct_ratio
                           + -2.5 * upper_ratio + 0.15 * mean_token_len
                           + 0.35 * log1p_tokens, 8) AS z
              FROM g),
            p AS (
              SELECT z.doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS p,
                     d.lang = 'en' AS y
              FROM z JOIN documents d ON z.doc_id = d.doc_id),
            binsq AS (
              SELECT CAST(least(floor(p * 10), 9) AS INT) AS bin,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(floor(
                       CAST(sum(CAST(floor(p * 1000000 + 0.5) AS BIGINT))
                            AS DOUBLE) / count(*)) AS BIGINT) AS mq,
                     CAST(floor(
                       CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE)
                       * 1000000 / count(*)) AS BIGINT) AS pq
              FROM p GROUP BY 1)
            SELECT floor(CAST(sum(n * abs(mq - pq)) AS DOUBLE)
                         / nullif(CAST(sum(n) AS DOUBLE), 0.0))
                     / 1e6 + 0.0 AS ece,
                   CAST(max(abs(mq - pq)) AS DOUBLE) / 1e6 + 0.0
                     AS max_ce,
                   CAST(count(*) AS BIGINT) AS n_bins_used,
                   CAST(sum(n) AS BIGINT) AS n
            FROM binsq
        """)
def q_eval_ece(spark, sf):
    """Expected calibration error of the learned quality filter (same
    quality_prob / English-label setup as calibration_bins), plus the
    max per-bin gap: per-bin means rounded 6dp then lifted onto the
    exact 1e-6 integer grid, so the weighted gap sum is exact integer
    arithmetic."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    docs = _t(spark, sf, "documents")
    scored = ta.quality_logreg(docs).select("doc_id", "quality_prob").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return ev.expected_calibration_error(
        scored, "quality_prob", F.col("lang") == "en", n_bins=10
    )


@query(oracle=r"""
            WITH toks AS (
              SELECT doc_id AS id,
                     unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents),
            tks AS (SELECT id, tok FROM toks WHERE length(tok) > 0),
            tf AS (
              SELECT id, tok, CAST(count(*) AS BIGINT) AS tf
              FROM tks GROUP BY id, tok),
            dft AS (
              SELECT tok, CAST(count(*) AS BIGINT) AS df
              FROM tf GROUP BY tok HAVING count(*) >= 2),
            nd AS (
              SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              FROM documents),
            sc AS (
              SELECT tf.id, tf.tok,
                     tf.tf * ln(CAST(n_docs + 1 AS DOUBLE)
                                / CAST(df + 1 AS DOUBLE)) AS score
              FROM tf JOIN dft USING (tok) CROSS JOIN nd),
            rk AS (
              SELECT id, tok, score,
                     row_number() OVER (PARTITION BY id
                       ORDER BY score DESC, tok) AS rank
              FROM sc)
            SELECT id AS doc_id, CAST(rank AS INT) AS rank,
                   tok AS token, round(score, 6) AS score
            FROM rk WHERE rank <= 3 ORDER BY doc_id, rank
        """)
def q_keyphrases_tfidf(spark, sf):
    """Top-3 TF-IDF keyphrases per document (min_df=2, add-one
    smoothed idf): explode once, two hash aggs, broadcast N, per-doc
    WindowGroupLimit with a (score desc, token) tie-break."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta2

    docs = _t(spark, sf, "documents")
    return ta2.keyphrases_tfidf(docs, k=3, min_df=2)


@query(oracle="""
            WITH per AS (
              SELECT CAST((epoch_us(ts) // 3600000000) % 24 AS INT) AS bucket,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                                   THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
              FROM events GROUP BY 1),
            per2 AS (SELECT bucket, n, n_pos, n - n_pos AS n_neg FROM per),
            tot AS (
              SELECT CAST(sum(n_pos) AS BIGINT) AS p,
                     CAST(sum(n_neg) AS BIGINT) AS nn
              FROM per2)
            SELECT bucket, n, n_pos,
                   round(CASE WHEN n_pos > 0 AND n_neg > 0
                              AND p > 0 AND nn > 0
                         THEN ln((CAST(n_pos AS DOUBLE) / p)
                                 / (CAST(n_neg AS DOUBLE) / nn)) END, 6)
                     AS woe,
                   round(CASE WHEN n_pos > 0 AND n_neg > 0
                              AND p > 0 AND nn > 0
                         THEN (CAST(n_pos AS DOUBLE) / p
                               - CAST(n_neg AS DOUBLE) / nn)
                              * ln((CAST(n_pos AS DOUBLE) / p)
                                   / (CAST(n_neg AS DOUBLE) / nn)) END, 6)
                     AS iv_contrib
            FROM per2 CROSS JOIN tot ORDER BY bucket
        """)
def q_t18_stream_woe(spark, sf):
    """T18 — feature screening maintained live: streaming hour-of-day
    purchase counts (24-row bounded state, associative sum) snapshot
    through the SAME woe_from_counts finale as batch eval_woe_iv, so
    the batch WoE SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_woe_counts,
        table_stream,
    )

    stream = table_stream(spark, sf, "events")
    live = stream_woe_counts(stream)
    return ev.woe_from_counts(
        drain_to_memory(live, "t18_woe_counts").select("bucket", "n", "n_pos")
    )


# ONE pair table at the lowest threshold; conditional sums per
# threshold; floor-quantized max (never round a raw double)
@query(oracle=f"""
            WITH sh AS (
              SELECT doc_id, {_SHINGLES} AS shingles
              FROM (SELECT doc_id, string_split({_NORM}, ' ') AS w
                    FROM documents)),
            ex AS (SELECT doc_id, unnest(shingles) AS s,
                          len(shingles) AS n
                   FROM sh),
            pairs AS MATERIALIZED (
              SELECT count(*) * 1.0
                     / (any_value(a.n) + any_value(b.n) - count(*)) AS j
              FROM ex a JOIN ex b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
              HAVING count(*) * 1.0
                     / (any_value(a.n) + any_value(b.n) - count(*))
                     >= 0.5),
            th AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
            SELECT CAST(th.threshold AS DOUBLE) AS threshold,
                   CAST(coalesce(sum(CASE WHEN j >= th.threshold
                                     THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS n_pairs,
                   max(CASE WHEN j >= th.threshold
                       THEN floor(j * 10000) / 10000 END)
                     AS max_jaccard_q4
            FROM th LEFT JOIN pairs ON TRUE
            GROUP BY th.threshold
        """)
def q_dedup_threshold_sweep(spark, sf):
    """Dedup-threshold tuning table: exact-Jaccard pair counts at
    0.5/0.6/0.7/0.8/0.9 from ONE inverted-index pair computation —
    conditional sums, never a re-join; raw-double threshold compares
    are bit-identical across engines."""
    from pdf_to_vectordb_etl_spark.operators.dedup import (
        jaccard_threshold_sweep,
    )

    docs = _t(spark, sf, "documents")
    return jaccard_threshold_sweep(docs)


# per-source sentence votes; majority = max (c, lang) replayed
# as ORDER BY c DESC, lang DESC pick-first
@query(oracle=r"""
            WITH d0 AS (
              SELECT source, coalesce(text, '') AS text FROM documents),
            s0 AS (
              SELECT source,
                     string_split(regexp_replace(text, '([.!?])\s+',
                       '\1' || chr(31), 'g'), chr(31)) AS raw
              FROM d0),
            sents AS (
              SELECT source,
                     unnest(list_filter(raw, x -> trim(x) <> '')) AS sent
              FROM s0),
            sc AS (
              SELECT source,
                     len(regexp_extract_all(lower(sent),
                       '\b(der|die|und|das|ist)\b')) AS s_de,
                     len(regexp_extract_all(lower(sent),
                       '\b(the|and|of|to|a)\b')) AS s_en,
                     len(regexp_extract_all(lower(sent),
                       '\b(el|la|de|que|los)\b')) AS s_es,
                     len(regexp_extract_all(lower(sent),
                       '\b(le|la|les|des|est)\b')) AS s_fr,
                     len(regexp_extract_all(lower(sent),
                       '\b(o|que|de|em|uma)\b')) AS s_pt
              FROM sents),
            v AS (
              SELECT source,
                     CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_pt) = 0
                            THEN 'und'
                          WHEN s_pt = greatest(s_de, s_en, s_es, s_fr,
                            s_pt) THEN 'pt'
                          WHEN s_fr = greatest(s_de, s_en, s_es, s_fr,
                            s_pt) THEN 'fr'
                          WHEN s_es = greatest(s_de, s_en, s_es, s_fr,
                            s_pt) THEN 'es'
                          WHEN s_en = greatest(s_de, s_en, s_es, s_fr,
                            s_pt) THEN 'en'
                          ELSE 'de' END AS lang
              FROM sc),
            cells AS (
              SELECT source, lang, CAST(count(*) AS BIGINT) AS c
              FROM v GROUP BY 1, 2),
            cl AS (SELECT * FROM cells WHERE lang <> 'und'),
            tt AS (
              SELECT source, CAST(sum(c) AS BIGINT) AS n
              FROM cl GROUP BY source),
            u AS (
              SELECT source, CAST(sum(c) AS BIGINT) AS n_und
              FROM cells WHERE lang = 'und' GROUP BY source),
            mj AS (
              SELECT source, lang FROM (
                SELECT source, lang,
                       row_number() OVER (PARTITION BY source
                         ORDER BY c DESC, lang DESC) AS rn
                FROM cl) WHERE rn = 1),
            st AS (
              SELECT cl.source,
                     CAST(count(*) AS BIGINT) AS n_langs,
                     max(n) AS n_classified,
                     round(0.0 - sum((c * 1.0 / n)
                           * ln(c * 1.0 / n)), 4) AS lang_entropy_q4
              FROM cl JOIN tt USING (source)
              GROUP BY cl.source)
            SELECT st.source,
                   CAST(n_classified AS BIGINT) AS n_classified,
                   CAST(coalesce(n_und, 0) AS BIGINT) AS n_und,
                   n_langs,
                   mj.lang AS majority_lang,
                   lang_entropy_q4
            FROM st JOIN mj USING (source) LEFT JOIN u USING (source)
        """)
def q_lang_mix_by_source(spark, sf):
    """Per-source language-mix telemetry: sentence-vote cells folded
    into classified/und counts, distinct languages, the deterministic
    majority language (max (c, lang)), and round-4 entropy — the
    corpus-mixture report a CCNet-style pipeline watches per slice."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        lang_mix_by_source,
    )

    docs = _t(spark, sf, "documents")
    return lang_mix_by_source(docs)


@query(oracle_of="lang_mix_by_source")
def q_t34_stream_lang_mix(spark, sf):
    """T34 — live language-mix monitor: the |sources| x <= 6
    (source, lang, c) sentence-vote cells as associative stream state,
    snapshot through the IDENTICAL lang_mix_finale as the batch query;
    the batch SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        lang_mix_cells,
        lang_mix_finale,
    )
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = table_stream(spark, sf, "documents")
    live = lang_mix_cells(stream)
    snap = drain_to_memory(live, "t34_lang_mix_cells")
    # break the shared memory-view lineage before the finale's
    # self-joins (the T31 conflicting-references lesson)
    return lang_mix_finale(snap.localCheckpoint(eager=True))


# bottom-k per doc over the shared KN scored relation; exact
# integer ceil cut, (p, w1, w2) total order
@query(oracle=f"""
            WITH sc AS MATERIALIZED ({_KN_SCORED_SQL}),
            r AS (
              SELECT doc_id, p,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY p, w1, w2) AS rn,
                     count(*) OVER (PARTITION BY doc_id) AS n
              FROM sc)
            SELECT doc_id,
                   CAST(max(n) AS BIGINT) AS n_bigrams,
                   CAST(max((n + 4) // 5) AS BIGINT) AS k_used,
                   round(avg(ln(p)), 4) AS min_k_score_q4
            FROM r WHERE rn <= (n + 4) // 5
            GROUP BY doc_id
        """)
def q_min_k_prob(spark, sf):
    """Min-K% (K=20%) membership-inference signal per document: mean
    KN log-prob of each doc's bottom-fifth-probability bigrams — the
    Shi et al. 2023 pretraining-data detection statistic as a corpus
    audit. Exact integer ceil cut, bit-identical probabilities, ties
    broken (w1, w2); per-doc windows are key-partitioned."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import min_k_prob

    docs = _t(spark, sf, "documents")
    return min_k_prob(docs, k_denom=5)


# sentence votes reuse the sentence_chunks split and the
# ta_langid CASE chain verbatim; entropy = round-4 -sum(p ln p)
@query(oracle=r"""
            WITH d0 AS (
              SELECT doc_id, coalesce(text, '') AS text FROM documents),
            s0 AS (
              SELECT doc_id,
                     string_split(regexp_replace(text, '([.!?])\s+',
                       '\1' || chr(31), 'g'), chr(31)) AS raw
              FROM d0),
            sents AS (
              SELECT doc_id,
                     unnest(list_filter(raw, x -> trim(x) <> '')) AS sent
              FROM s0),
            nall AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences
              FROM sents GROUP BY doc_id),
            sc AS (
              SELECT doc_id,
                     len(regexp_extract_all(lower(sent),
                       '\b(der|die|und|das|ist)\b')) AS s_de,
                     len(regexp_extract_all(lower(sent),
                       '\b(the|and|of|to|a)\b')) AS s_en,
                     len(regexp_extract_all(lower(sent),
                       '\b(el|la|de|que|los)\b')) AS s_es,
                     len(regexp_extract_all(lower(sent),
                       '\b(le|la|les|des|est)\b')) AS s_fr,
                     len(regexp_extract_all(lower(sent),
                       '\b(o|que|de|em|uma)\b')) AS s_pt
              FROM sents),
            v AS (
              SELECT doc_id,
                     CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_pt) = 0
                            THEN 'und'
                          WHEN s_pt = greatest(s_de, s_en, s_es, s_fr,
                            s_pt) THEN 'pt'
                          WHEN s_fr = greatest(s_de, s_en, s_es, s_fr,
                            s_pt) THEN 'fr'
                          WHEN s_es = greatest(s_de, s_en, s_es, s_fr,
                            s_pt) THEN 'es'
                          WHEN s_en = greatest(s_de, s_en, s_es, s_fr,
                            s_pt) THEN 'en'
                          ELSE 'de' END AS lang
              FROM sc),
            cells AS (
              SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS c
              FROM v WHERE lang <> 'und' GROUP BY 1, 2),
            tt AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS n
              FROM cells GROUP BY doc_id),
            st AS (
              SELECT cells.doc_id,
                     CAST(count(*) AS BIGINT) AS n_langs,
                     max(n) AS n_classified,
                     round(0.0 - sum((c * 1.0 / n)
                           * ln(c * 1.0 / n)), 4) AS lang_entropy_q4
              FROM cells JOIN tt USING (doc_id)
              GROUP BY cells.doc_id)
            SELECT d0.doc_id,
                   CAST(coalesce(n_sentences, 0) AS BIGINT)
                     AS n_sentences,
                   CAST(coalesce(n_classified, 0) AS BIGINT)
                     AS n_classified,
                   CAST(coalesce(n_langs, 0) AS BIGINT) AS n_langs,
                   lang_entropy_q4
            FROM d0
            LEFT JOIN nall USING (doc_id)
            LEFT JOIN st USING (doc_id)
        """)
def q_code_switch_entropy(spark, sf):
    """Per-doc code-switching profile: sentence-level language votes
    (marker-hit argmax, the ta_langid heuristic) folded into a per-doc
    distinct-language count + round-4 Shannon entropy (the KN
    round-4-ln convention). Catches mixed-language docs the doc-level
    majority ID cannot see."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        code_switch_entropy,
    )

    docs = _t(spark, sf, "documents")
    return code_switch_entropy(docs)


@query(oracle=f"""
            WITH g AS MATERIALIZED ({_GOPHER_ORACLE_SQL}),
            tot AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(coalesce(sum(gopher_pass), 0) AS BIGINT)
                       AS n_pass
              FROM g),
            rules AS (
              SELECT unnest(range(9)) AS rule_idx,
                     unnest(['min_words', 'max_words',
                             'min_mean_word_len', 'max_mean_word_len',
                             'symbol_word_ratio', 'bullet_line_frac',
                             'ellipsis_line_frac', 'alpha_word_frac',
                             'stopword_hits']) AS rule),
            per AS (
              SELECT r.rule_idx, r.rule,
                     CAST(coalesce(sum(CASE WHEN
                       (g.gopher_fail_mask & (1 << r.rule_idx)) <> 0
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_fail,
                     CAST(coalesce(sum(CASE WHEN
                       g.gopher_fail_mask = (1 << r.rule_idx)
                       THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_sole_fail,
                     CAST(coalesce(sum(CASE WHEN
                       (g.gopher_fail_mask & (511 - (1 << r.rule_idx)))
                       = 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS n_pass_without
              FROM rules r LEFT JOIN g ON TRUE
              GROUP BY r.rule_idx, r.rule)
            SELECT CAST(rule_idx AS INTEGER) AS rule_idx, rule,
                   n_fail, n_sole_fail, n_pass_without,
                   tot.n_docs, tot.n_pass
            FROM per CROSS JOIN tot
        """)
def q_gopher_rule_ablation(spark, sf):
    """Leave-one-out ablation of the nine Gopher rules: per rule, how
    many docs fail it, how many it UNIQUELY removes, and how many pass
    the other eight — all 27 statistics from ONE aggregate over the
    existing fail-bitmask projection, stacked to 9 rows. The oracle
    wraps the shared _GOPHER_ORACLE_SQL and replays the bit tests with
    (mask & (511 - bit)) = 0 (no engine-specific ~)."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        gopher_rule_ablation,
    )

    docs = _t(spark, sf, "documents")
    return gopher_rule_ablation(docs)


@query(oracle_of="gopher_rule_ablation")
def q_t33_stream_gopher_ablation(spark, sf):
    """T33 — live rule-ablation monitor: the <= 512-row
    (gopher_fail_mask, n) histogram as the associative streaming
    state, snapshot through the IDENTICAL ablation finale as the batch
    query; the batch SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        gopher_ablation_finale,
        gopher_quality_gate,
    )
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = table_stream(spark, sf, "documents")
    live = gopher_quality_gate(stream).groupBy("gopher_fail_mask").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return gopher_ablation_finale(drain_to_memory(live, "t33_gopher_mask_hist"))


@query(oracle="""
            WITH per AS (
              SELECT user_id AS u,
                     CAST(max(epoch_ns(ts)) AS BIGINT) AS r_ns,
                     CAST(count(*) AS BIGINT) AS freq,
                     CAST(sum(CAST(floor(value * 1000000) AS BIGINT))
                          AS BIGINT) AS m_micro
              FROM events WHERE value IS NOT NULL
              GROUP BY user_id),
            r AS (SELECT u, ntile(5) OVER (ORDER BY -r_ns, u)
                         AS r_score FROM per),
            f AS (SELECT u, ntile(5) OVER (ORDER BY -freq, u)
                         AS f_score FROM per),
            m AS (SELECT u, ntile(5) OVER (ORDER BY -m_micro, u)
                         AS m_score FROM per),
            sc AS (
              SELECT per.u, per.m_micro, r_score, f_score, m_score
              FROM per JOIN r USING (u) JOIN f USING (u)
              JOIN m USING (u))
            SELECT CASE WHEN r_score <= 2 AND f_score <= 2
                          THEN 'champions'
                        WHEN r_score <= 2 THEN 'recent'
                        WHEN f_score <= 2 THEN 'at_risk'
                        ELSE 'hibernating' END AS segment,
                   CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(m_micro) AS BIGINT) AS monetary_micro
            FROM sc GROUP BY 1
        """)
def q_rfm_segments(spark, sf):
    """RFM lifecycle segmentation of the event stream: exact quintiles
    (global_ntile over unique (-metric, user) keys) of recency/
    frequency/monetary per user, folded into named segments. Monetary
    floors each value onto the 1e-6 grid BEFORE summing — no
    accumulation-order float sum anywhere."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    ev = _t(spark, sf, "events")
    return aggregates.rfm_segments(ev)


# total-variation t per class on the common denominator;
# absent sensitive values via the (N - px)*nc correction
@query(oracle="""
            WITH cells AS (
              SELECT lang, n_chars // 100 AS size_band, source AS sv,
                     CAST(count(*) AS BIGINT) AS x
              FROM documents GROUP BY 1, 2, 3),
            cls AS (
              SELECT lang, size_band, CAST(sum(x) AS BIGINT) AS nc
              FROM cells GROUP BY 1, 2),
            gl AS (
              SELECT sv, CAST(sum(x) AS BIGINT) AS gx
              FROM cells GROUP BY sv),
            tot AS (SELECT CAST(sum(gx) AS BIGINT) AS n FROM gl),
            per AS (
              SELECT c.lang, c.size_band,
                     sum(abs(CAST(c.x AS HUGEINT) * t.n
                             - CAST(g.gx AS HUGEINT) * l.nc)) AS pdev,
                     CAST(sum(g.gx) AS BIGINT) AS px,
                     max(l.nc) AS nc, max(t.n) AS n
              FROM cells c
              JOIN gl g USING (sv)
              JOIN cls l USING (lang, size_band)
              CROSS JOIN tot t
              GROUP BY 1, 2),
            mt AS (
              SELECT ((pdev + CAST(n - px AS HUGEINT) * nc) * 1000000)
                       // (2 * CAST(nc AS HUGEINT) * n) AS micro_t
              FROM per)
            SELECT CAST(count(*) AS BIGINT) AS n_classes,
                   CAST(coalesce(sum(CASE WHEN micro_t > 300000
                                     THEN 1 ELSE 0 END), 0) AS BIGINT)
                     AS classes_over_t,
                   CAST(max(micro_t) AS BIGINT) / 1e6 AS max_t_q6,
                   CASE WHEN count(*) > 0 THEN max(micro_t) <= 300000
                   END AS t_close
            FROM mt
        """)
def q_t_closeness(spark, sf):
    """t-closeness (t=0.3) over the q_k_anonymity quasi-identifiers
    with `source` sensitive — total-variation distance between each
    class's sensitive distribution and the global one, every deviation
    an exact DECIMAL(38,0) integer on the common denominator, absent
    values handled by one algebraic correction term."""
    from pdf_to_vectordb_etl_spark.operators import quality_checks

    d = _t(spark, sf, "documents").select(
        "lang",
        "source",
        (F.col("n_chars") / 100).cast("long").alias("size_band"),
    )
    return quality_checks.t_closeness_report(
        d, ["lang", "size_band"], "source", t=0.3
    )


@query(oracle="""
            WITH base AS (
              SELECT event_id,
                     CAST(floor(value / (value + 100) * 1000000)
                          AS BIGINT) AS p,
                     CASE WHEN event_type IN ('purchase', 'signup')
                          THEN 1 ELSE 0 END AS y
              FROM events WHERE value IS NOT NULL AND value >= 0),
            nt AS (
              SELECT y, ntile(10) OVER (ORDER BY p DESC, event_id)
                       AS tile
              FROM base),
            per AS (
              SELECT tile, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS responders
              FROM nt GROUP BY tile),
            tot AS (
              SELECT CAST(sum(n) AS BIGINT) AS nn,
                     CAST(sum(responders) AS BIGINT) AS yy
              FROM per),
            cum AS (
              SELECT tile,
                     CAST(sum(responders) OVER (ORDER BY tile)
                          AS BIGINT) AS cum_y
              FROM per)
            SELECT p.tile, p.n, p.responders,
                   CASE WHEN yy > 0 THEN
                     ((CAST(p.responders AS HUGEINT) * nn * 1000000)
                      // (CAST(p.n AS HUGEINT) * yy)) / 1e6
                   END AS lift_q6,
                   CASE WHEN yy > 0 THEN
                     ((CAST(c.cum_y AS HUGEINT) * 1000000) // yy) / 1e6
                   END AS cum_gain_q6
            FROM per p JOIN cum c ON p.tile = c.tile CROSS JOIN tot
        """)
def q_lift_table(spark, sf):
    """Decile lift & cumulative gains for the deterministic conversion
    forecast (same micro-grid p as brier_decomposition): exact ntile
    assignment via global_ntile over (-p, event_id), integer per-tile
    sums, one DECIMAL div per reported ratio; the cumulative prefix is
    a <=100-row conditional self-join, not a window."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    e = _t(spark, sf, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    base = e.select(
        "event_id",
        F.floor(
            F.col("value") / (F.col("value") + 100) * 1000000
        ).cast("long").alias("p_micro"),
        F.col("event_type").isin("purchase", "signup").alias("y"),
    )
    return ev.lift_table(base, "p_micro", "y", "event_id", n_tiles=10)


# BH replay: identical IEEE product comparisons (p*m vs
# rank*0.2), window rank fine here (oracle side only)
@query(oracle="""
            WITH per AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                          AS BIGINT) AS x
              FROM documents GROUP BY source),
            tot AS (
              SELECT CAST(sum(n) AS BIGINT) AS nn,
                     CAST(sum(x) AS BIGINT) AS xx
              FROM per),
            sc0 AS (
              SELECT source,
                     CAST(xx AS DOUBLE) / nn AS p0,
                     CAST(x AS DOUBLE) - n * (CAST(xx AS DOUBLE) / nn)
                       AS d,
                     n
              FROM per CROSS JOIN tot),
            sc AS (
              SELECT source,
                     CASE WHEN p0 > 0 AND p0 < 1
                          THEN 1.0 / (1.0 + (d * d)
                               / ((n * p0) * (1.0 - p0))) END AS p
              FROM sc0),
            r AS (
              SELECT source, p,
                     row_number() OVER (ORDER BY p, source) AS rank,
                     count(*) OVER () AS m
              FROM sc WHERE p IS NOT NULL),
            k AS (SELECT coalesce(max(rank), 0) AS k FROM r
                  WHERE p * m <= rank * 0.2)
            SELECT source AS key, p, CAST(rank AS BIGINT) AS rank,
                   rank <= k.k AS rejected
            FROM r CROSS JOIN k
        """)
def q_fdr_bh(spark, sf):
    """Benjamini-Hochberg FDR over per-source proportion screens: each
    source's English share vs the corpus share as a z² statistic,
    mapped through the monotone 1/(1+z²) to a deterministic
    oracle-replayable screening score (the OPERATOR takes real
    p-values; the fixture needs bit-identical ones, and every op here
    is a single IEEE product/division replayed verbatim in SQL).
    Ranks via global_row_number; alpha=0.2."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    docs = _t(spark, sf, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("lang") == "en").cast("int")).cast("long").alias("x"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("x").cast("long").alias("xx")
    )
    sc = per.crossJoin(tot).selectExpr(
        "source",
        "CAST(xx AS DOUBLE) / nn AS p0",
        "CAST(x AS DOUBLE) - n * (CAST(xx AS DOUBLE) / nn) AS d",
        "n",
    ).selectExpr(
        "source",
        "CASE WHEN p0 > 0 AND p0 < 1"
        " THEN 1.0 / (1.0 + (d * d) / ((n * p0) * (1.0 - p0))) END AS p",
    )
    return ev.fdr_bh(sc, "p", "source", alpha=0.2)


@query(oracle=f"""
            WITH sh AS (
              SELECT source, {_SHINGLES} AS shingles
              FROM (SELECT source, string_split({_NORM}, ' ') AS w
                    FROM documents)),
            ex AS (SELECT DISTINCT source AS src, unnest(shingles) AS s
                   FROM sh),
            sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS sz
                      FROM ex GROUP BY src),
            inter AS (
              SELECT a.src AS s1, b.src AS s2,
                     CAST(count(*) AS BIGINT) AS inter
              FROM ex a JOIN ex b ON a.s = b.s AND a.src < b.src
              GROUP BY 1, 2)
            SELECT s1, s2, inter,
                   z1.sz + z2.sz - inter AS uni,
                   (inter * 1000000 // (z1.sz + z2.sz - inter)) / 1e6
                     AS j_q6
            FROM inter
            JOIN sizes z1 ON s1 = z1.src
            JOIN sizes z2 ON s2 = z2.src
        """)
def q_source_jaccard(spark, sf):
    """Exact pairwise Jaccard between source shingle sets — the
    corpus-composition diagnostic for mixture planning. Inverted-index
    self-join on distinct (source, shingle); |sources|²-bounded
    output; j_q6 is integer floor division (no float)."""
    from pdf_to_vectordb_etl_spark.operators import profiling

    docs = _t(spark, sf, "documents")
    return profiling.source_jaccard_matrix(docs)


@query(oracle_of="brier_decomposition")
def q_t32_stream_brier(spark, sf):
    """T32 — live calibration monitor: per-bin Brier cells (<= 20 rows
    of integer sums, associative) as the streaming state, snapshot
    through the IDENTICAL Murphy-decomposition finale as the batch
    query; the batch SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = (
        table_stream(spark, sf, "events")
        .filter(F.col("value").isNotNull() & (F.col("value") >= 0))
        .select(
            F.floor(
                F.col("value") / (F.col("value") + 100) * 1000000
            ).cast("long").alias("p_micro"),
            F.col("event_type").isin("purchase", "signup").alias("y"),
        )
    )
    live = ev.brier_cells(stream, "p_micro", "y", n_bins=20)
    return ev.brier_finale(drain_to_memory(live, "t32_brier_cells"), n_bins=20)


# independent replay: group width-w windows by substring VALUE
# per width (the rank table's equality relation, re-derived)
@query(oracle="""
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(substr(text, 1, 120),
                                    '[^\\x20-\\x7e]', '', 'g') AS t
              FROM documents WHERE doc_id < 100),
            ws AS (SELECT unnest([1, 2, 4, 8, 16]) AS width),
            w AS (
              SELECT ws.width, substr(d.t, p + 1, ws.width) AS sub
              FROM d CROSS JOIN ws
              CROSS JOIN unnest(range(length(d.t))) AS u(p)
              WHERE p + ws.width <= length(d.t)),
            g AS (
              SELECT width, sub, CAST(count(*) AS BIGINT) AS c
              FROM w GROUP BY width, sub)
            SELECT ws.width,
                   CAST(coalesce(sum(CASE WHEN c >= 2 THEN c END), 0)
                        AS BIGINT) AS n_repeat_positions,
                   CAST(coalesce(sum(CASE WHEN c >= 2 THEN 1 END), 0)
                        AS BIGINT) AS n_repeat_groups,
                   CAST(coalesce(max(c), 0) AS BIGINT) AS max_group
            FROM ws LEFT JOIN g ON g.width = ws.width
            GROUP BY ws.width
        """)
def q_repetition_depth(spark, sf):
    """Corpus repetitiveness spectrum at widths 1/2/4/8/16: repeated-
    window position counts from the prefix-doubling rank table (stats
    fall out of the SAME pass that builds the next width). Oracle =
    independent substring group-by per width. Same ASCII/120-char,
    doc_id < 100 projection as the suffix family."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    d2 = docs.select(
        "doc_id",
        F.regexp_replace(
            F.substring("text", 1, 120), r"[^\x20-\x7e]", ""
        ).alias("text"),
    )
    return suffixes.repetition_depth_profile(d2, max_width=16)


# classical route: in the merged suffix sort, some adjacent
# cross-origin pair attains the max cross-corpus LCP (lcp over
# a sorted range = min of adjacent lcps, and the origin must
# switch somewhere inside any cross pair's range)
@query(oracle=r"""
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                               < '8' THEN 'a' ELSE 'b' END AS cor,
                     regexp_replace(substr(text, 1, 120),
                                    '[^\x20-\x7e]', '', 'g') AS t
              FROM documents WHERE doc_id < 100),
            s AS (
              SELECT doc_id, cor, substr(t, p + 1) AS suf
              FROM (SELECT doc_id, cor, t, unnest(range(length(t))) AS p
                    FROM d)),
            o AS (SELECT suf, cor,
                         lead(suf) OVER (ORDER BY suf) AS nxt,
                         lead(cor) OVER (ORDER BY suf) AS ncor
                  FROM s),
            pr AS (SELECT suf, nxt FROM o
                   WHERE nxt IS NOT NULL AND cor <> ncor),
            kk AS (
              SELECT suf, nxt,
                     unnest(generate_series(
                       1, least(length(suf), length(nxt)))) AS k
              FROM pr),
            lcps AS (
              SELECT suf, nxt, max(k) AS lcp FROM kk
              WHERE substr(suf, 1, k) = substr(nxt, 1, k)
              GROUP BY suf, nxt),
            mx AS (SELECT max(lcp) AS lcs_len FROM lcps),
            w AS (
              SELECT doc_id, cor,
                     substr(t, p + 1, (SELECT lcs_len FROM mx)) AS sub
              FROM (SELECT doc_id, cor, t, unnest(range(length(t))) AS p
                    FROM d)
              WHERE p + (SELECT lcs_len FROM mx) <= length(t)),
            hot AS (
              SELECT sub, CAST(count(*) AS BIGINT) AS n_occurrences,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                     CAST(count(DISTINCT cor) AS BIGINT) AS n_corpora
              FROM w GROUP BY sub
              HAVING count(DISTINCT cor) >= 2),
            win AS (SELECT * FROM hot ORDER BY sub LIMIT 1)
            SELECT CAST(coalesce((SELECT lcs_len FROM mx), 0) AS INT)
                     AS lcs_len,
                   (SELECT sub FROM win) AS lcs,
                   CAST(coalesce((SELECT n_occurrences FROM win), 0)
                        AS BIGINT) AS n_occurrences,
                   CAST(coalesce((SELECT n_docs FROM win), 0) AS BIGINT)
                     AS n_docs,
                   CAST(coalesce((SELECT n_corpora FROM win), 0)
                        AS BIGINT) AS n_corpora
            FROM (SELECT 1)
        """)
def q_cross_corpus_lcs(spark, sf):
    """Longest substring shared by the two md5-split halves of the
    corpus — char-level contamination evidence (the ExactSubstr
    signal) via binary search on window length with two-phase
    hash-agg probes. The oracle takes the classical route: max LCP
    over adjacent CROSS-ORIGIN suffixes in the merged suffix sort —
    two genuinely different algorithms must agree. Same ASCII/120-char
    projection and doc_id < 100 cap as longest_repeated_substring."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    d2 = docs.select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8",
            F.lit("a"),
        ).otherwise(F.lit("b")).alias("cor"),
        F.regexp_replace(
            F.substring("text", 1, 120), r"[^\x20-\x7e]", ""
        ).alias("text"),
    )
    return suffixes.cross_corpus_lcs(d2, "cor")


# tertile ranks replay the operator's (source, -score, id)
# global order as a per-source window (the oracle may window
# freely — it runs on DuckDB); min/max are over round-4 values
@query(oracle=f"""
            WITH sc AS MATERIALIZED ({_KN_ORACLE_SQL}),
            j AS (
              SELECT d.source, s.doc_id, s.kn_score
              FROM documents d JOIN sc s ON d.doc_id = s.doc_id),
            r AS (
              SELECT source, kn_score,
                     row_number() OVER (PARTITION BY source
                       ORDER BY kn_score DESC, doc_id) AS rk,
                     count(*) OVER (PARTITION BY source) AS n
              FROM j)
            SELECT source,
                   CASE WHEN rk * 3 <= n THEN 'head'
                        WHEN rk * 3 <= 2 * n THEN 'middle'
                        ELSE 'tail' END AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   min(kn_score) AS score_min,
                   max(kn_score) AS score_max
            FROM r GROUP BY source, bucket
        """)
def q_ccnet_ppl_buckets(spark, sf):
    """CCNet head/middle/tail staging of the corpus: per-source exact
    tertiles of the Kneser-Ney LM score (higher = lower perplexity =
    head). Ranks via ONE global_row_number over (source, -score, id)
    — within-source ranks are contiguous, so no per-source window
    exists anywhere in the plan; tertile cuts are integer arithmetic."""
    from pdf_to_vectordb_etl_spark.operators import curation, textanalysis

    docs = _t(spark, sf, "documents")
    scores = textanalysis.kneser_ney_scores(docs)
    return curation.ccnet_perplexity_buckets(docs, scores)


@query(oracle="""
            WITH per AS (
              SELECT lang, n_chars // 100 AS size_band,
                     CAST(count(DISTINCT source)
                          + max(CASE WHEN source IS NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS div,
                     CAST(count(*) AS BIGINT) AS n
              FROM documents
              GROUP BY lang, n_chars // 100),
            s AS (
              SELECT CAST(count(*) AS BIGINT) AS n_classes,
                     CAST(sum(CASE WHEN div < 2 THEN 1 ELSE 0 END)
                          AS BIGINT) AS classes_under_l,
                     CAST(sum(CASE WHEN div < 2 THEN n ELSE 0 END)
                          AS BIGINT) AS rows_under_l,
                     CAST(min(div) AS BIGINT) AS min_diversity,
                     CAST(sum(n) AS BIGINT) AS n_rows
              FROM per)
            SELECT n_classes, classes_under_l, rows_under_l,
                   min_diversity,
                   (min_diversity >= 2) AS l_diverse,
                   floor(rows_under_l * 1.0 / n_rows * 10000) / 10000
                     AS suppression_frac
            FROM s
        """)
def q_l_diversity(spark, sf):
    """l-diversity (l=2) risk profile over the same quasi-identifiers
    as q_k_anonymity with `source` as the sensitive attribute — the
    distinct-sensitive-values-per-class check that catches what
    k-anonymity misses (large but homogeneous classes)."""
    from pdf_to_vectordb_etl_spark.operators import quality_checks

    d = _t(spark, sf, "documents").select(
        "lang",
        "source",
        (F.col("n_chars") / 100).cast("long").alias("size_band"),
    )
    return quality_checks.l_diversity_report(
        d, ["lang", "size_band"], "source", l=2
    )


# PPR: restart/dangling mass return to the seed set; float
# literals written as 1 - 0.85 so the IEEE value matches
# Python's 1.0 - damping exactly
@query(oracle="""
            WITH e0 AS (
              SELECT user_id, event_type, epoch_us(ts) AS tus, event_id
              FROM events),
            tr AS (
              SELECT event_type AS s,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY tus, event_id) AS t
              FROM e0),
            e AS (SELECT s AS src, t AS dst, CAST(count(*) AS DOUBLE) AS w
                  FROM tr WHERE t IS NOT NULL GROUP BY s, t),
            ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
            p AS (SELECT e.src, e.dst, w / ow AS p
                  FROM e JOIN ow ON e.src = ow.src),
            nodes AS (SELECT DISTINCT node FROM (
              SELECT src AS node FROM e UNION SELECT dst FROM e)),
            ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM nodes
                   WHERE node IN ('purchase', 'signup')),
            base AS (SELECT node,
                            CASE WHEN node IN ('purchase', 'signup')
                                 THEN 1.0 / ns.k ELSE 0.0 END AS s
                     FROM nodes CROSS JOIN ns WHERE ns.k > 0),
            hasout AS (SELECT DISTINCT src FROM p),
            r0 AS (SELECT node, s, s AS rank FROM base),
            d0 AS (SELECT coalesce(sum(rank), 0) AS m FROM r0
                   LEFT JOIN hasout ON node = src WHERE src IS NULL),
            c0 AS (SELECT dst, sum(rank * p.p) AS c
                   FROM r0 JOIN p ON node = p.src GROUP BY dst),
            r1 AS (SELECT node, s, (1 - 0.85) * s
                     + 0.85 * (coalesce(c, 0) + d0.m * s) AS rank
                   FROM base LEFT JOIN c0 ON node = dst CROSS JOIN d0),
            d1 AS (SELECT coalesce(sum(rank), 0) AS m FROM r1
                   LEFT JOIN hasout ON node = src WHERE src IS NULL),
            c1 AS (SELECT dst, sum(rank * p.p) AS c
                   FROM r1 JOIN p ON node = p.src GROUP BY dst),
            r2 AS (SELECT node, s, (1 - 0.85) * s
                     + 0.85 * (coalesce(c, 0) + d1.m * s) AS rank
                   FROM base LEFT JOIN c1 ON node = dst CROSS JOIN d1),
            d2 AS (SELECT coalesce(sum(rank), 0) AS m FROM r2
                   LEFT JOIN hasout ON node = src WHERE src IS NULL),
            c2 AS (SELECT dst, sum(rank * p.p) AS c
                   FROM r2 JOIN p ON node = p.src GROUP BY dst),
            r3 AS (SELECT node, (1 - 0.85) * s
                     + 0.85 * (coalesce(c, 0) + d2.m * s) AS rank
                   FROM base LEFT JOIN c2 ON node = dst CROSS JOIN d2)
            SELECT node, round(rank, 6) AS rank FROM r3
        """)
def q_graph_ppr(spark, sf):
    """Personalized PageRank (3 iterations, damping 0.85) over the
    user-journey transition graph, restarted at the
    {purchase, signup} seed set — restart AND dangling mass return to
    the seeds. Same canonical per-iteration join+agg plan as
    q_graph_pagerank; empty seed intersection -> empty result on both
    engines."""
    from pdf_to_vectordb_etl_spark.operators import graph

    ev = _t(spark, sf, "events").withColumn("tus", F.expr("ts div 1000"))
    edges = graph.transition_edges(ev)
    seeds = spark.createDataFrame(
        [("purchase",), ("signup",)], "node string"
    )
    return graph.personalized_pagerank(
        edges, seeds, iterations=3, damping=0.85, weight_col="w"
    )


# WordPiece greedy encode: vocab rebuilt deterministically
# (flavored counts, top-64 per flavor, count desc piece asc),
# then the tie-free greedy walk as a LINEAR recursive CTE over
# the precomputed furthest-match table (single successor per
# (word, pos) — no aggregate inside the recursion).
@query(oracle=r"""
            WITH RECURSIVE d2 AS (
              SELECT doc_id,
                     lower(regexp_replace(text, '[^\x20-\x7e]', '', 'g'))
                       AS t
              FROM documents),
            stream AS MATERIALIZED (
              SELECT doc_id, w
              FROM (SELECT doc_id,
                           unnest(string_split_regex(t, '\s+')) AS w
                    FROM d2)
              WHERE length(w) > 0),
            w0 AS MATERIALIZED (
              SELECT w, CAST(count(*) AS BIGINT) AS freq,
                     CAST(length(w) AS INT) AS wlen
              FROM stream WHERE length(w) <= 12
              GROUP BY w),
            occ2 AS MATERIALIZED (
              SELECT w, wlen, s.i AS i, s.j AS j,
                     substr(w, s.i + 1, s.j - s.i) AS piece, freq
              FROM (SELECT w, freq, wlen,
                           unnest(flatten(list_transform(
                             generate_series(0, wlen - 1),
                             i -> list_transform(
                               generate_series(i + 1, least(i + 4, wlen)),
                               j -> {'i': i, 'j': j})))) AS s
                    FROM w0)),
            fc AS (
              SELECT piece, (i > 0) AS is_cont,
                     CAST(sum(freq) AS BIGINT) AS n
              FROM occ2 GROUP BY piece, (i > 0)),
            vv AS MATERIALIZED (
              SELECT piece, is_cont FROM fc WHERE length(piece) = 1
              UNION ALL
              SELECT piece, is_cont FROM (
                SELECT piece, is_cont, n FROM fc
                WHERE length(piece) > 1 AND NOT is_cont AND n >= 2
                ORDER BY n DESC, piece LIMIT 64)
              UNION ALL
              SELECT piece, is_cont FROM (
                SELECT piece, is_cont, n FROM fc
                WHERE length(piece) > 1 AND is_cont AND n >= 2
                ORDER BY n DESC, piece LIMIT 64)),
            bj AS MATERIALIZED (
              SELECT o.w, o.i, max(o.j) AS bj, max(o.wlen) AS wlen
              FROM occ2 o JOIN vv v
                ON o.piece = v.piece AND v.is_cont = (o.i > 0)
              GROUP BY o.w, o.i),
            walk AS (
              SELECT w, wlen, 0 AS pos, 0 AS cnt FROM w0
              UNION ALL
              SELECT k.w, k.wlen, b.bj AS pos, k.cnt + 1
              FROM walk k JOIN bj b ON b.w = k.w AND b.i = k.pos
              WHERE k.pos < k.wlen),
            wk AS MATERIALIZED (
              SELECT w, max(CASE WHEN pos = wlen THEN cnt END) AS toks
              FROM walk GROUP BY w),
            per AS (
              SELECT s.doc_id,
                     CAST(count(*) AS BIGINT) AS n_words,
                     CAST(sum(CASE WHEN toks IS NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_oov_words,
                     CAST(sum(coalesce(toks, 0)) AS BIGINT) AS n_tokens
              FROM stream s LEFT JOIN wk USING (w)
              GROUP BY s.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
                   CAST(coalesce(p.n_oov_words, 0) AS BIGINT)
                     AS n_oov_words,
                   CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens
            FROM d2 d LEFT JOIN per p USING (doc_id)
        """)
def q_wordpiece_encode(spark, sf):
    """WordPiece greedy longest-match-first tokenization of the
    ASCII-projected corpus with a deterministically-derived
    position-flavored vocab (initial vs ## continuation, top-64 multi
    per flavor) — per-doc token and OOV counts. The greedy walk is
    tie-free (argmax on span length), so the oracle replays it as a
    linear recursive CTE over a precomputed (word, pos) -> furthest-
    match table (no aggregate in the recursion)."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta2

    docs = _t(spark, sf, "documents")
    d2 = docs.select(
        "doc_id",
        F.regexp_replace("text", r"[^\x20-\x7e]", "").alias("text"),
    )
    v = ta2.wordpiece_vocab(
        d2, vocab_size=64, max_piece_len=4, max_word_len=12, min_count=2
    )
    return ta2.wordpiece_encode(d2, v, max_piece_len=4, max_word_len=12)


def _wordpiece_train_oracle_sql(n_merges: int = 6) -> str:
    """Unrolled DuckDB replay of wordpiece_train_merges — the
    _bpe_train_oracle_sql skeleton with a per-round symbol-frequency
    CTE and the likelihood-score argmax: score_q12 =
    (n * 1e12) // (f_l * f_r) in HUGEINT (mirrors Spark's exact
    DECIMAL(38,0) div — all operands non-negative), ties (l, r)."""
    ctes = [
        r"""v0 AS MATERIALIZED (
              SELECT CAST(count(*) AS BIGINT) AS freq,
                     regexp_replace(w, '(.)', ' \1 ', 'g') AS s
              FROM (SELECT unnest(string_split_regex(lower(
                       regexp_replace(text, '[^\x20-\x7e]', '', 'g')),
                       '\s+')) AS w
                    FROM documents)
              WHERE length(w) > 0
              GROUP BY w)"""
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""s{k} AS (
              SELECT sym, CAST(sum(freq) AS BIGINT) AS f
              FROM (SELECT freq,
                           unnest(string_split(trim(s), '  ')) AS sym
                    FROM v{k - 1})
              GROUP BY sym),
            p{k} AS (
              SELECT ws[i] AS l, ws[i + 1] AS r,
                     CAST(sum(freq) AS BIGINT) AS n
              FROM (SELECT freq, ws,
                           unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM (SELECT freq, string_split(trim(s), '  ') AS ws
                          FROM v{k - 1})
                    WHERE len(ws) > 1)
              GROUP BY l, r),
            m{k} AS MATERIALIZED (
              SELECT p.l, p.r, p.n,
                     CAST((CAST(p.n AS HUGEINT) * 1000000000000)
                          // (CAST(a.f AS HUGEINT) * b.f) AS BIGINT)
                       AS score_q12
              FROM p{k} p
              JOIN s{k} a ON p.l = a.sym
              JOIN s{k} b ON p.r = b.sym
              ORDER BY score_q12 DESC, l, r LIMIT 1),
            v{k} AS MATERIALIZED (
              SELECT freq,
                     replace(s,
                       ' ' || (SELECT l FROM m{k}) || '  '
                           || (SELECT r FROM m{k}) || ' ',
                       ' ' || (SELECT l FROM m{k})
                           || (SELECT r FROM m{k}) || ' ') AS s
              FROM v{k - 1})"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {k} AS step, l, r, n, score_q12 FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


@query(oracle=_wordpiece_train_oracle_sql(6))
def q_wordpiece_train(spark, sf):
    """WordPiece tokenizer training (6 likelihood-score merge rounds)
    on the ASCII-projected corpus — completes the tokenizer trifecta
    next to bpe_train and unigram_lm_train. Argmax on the INTEGER
    quantized score (n*1e12) // (f_l*f_r), ties lexicographic; the
    oracle unrolls the rounds as MATERIALIZED CTEs (the bpe_train
    replay pattern) with HUGEINT floor-division."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta2

    docs = _t(spark, sf, "documents")
    d2 = docs.select(
        F.regexp_replace("text", r"[^\x20-\x7e]", "").alias("text")
    )
    return ta2.wordpiece_train_merges(d2, n_merges=6)


def _bt_cells_from_counts(per):
    """(user, item, count) -> directed win cells (i, j, w): i beat j
    for one user when the user did strictly more of i. Shared by the
    batch bradley_terry query and T31's snapshot finale. The self-join
    is per-user over a bounded item domain (event types)."""
    a = per.selectExpr("u", "t AS i", "c AS ci")
    b = per.selectExpr("u", "t AS j", "c AS cj")
    return (
        a.join(b, "u")
        .filter((F.col("i") != F.col("j")) & (F.col("ci") > F.col("cj")))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )


def _bt_oracle_sql(
    n_rounds: int = 6, grid: int = 10**9, min_a: int = 10**3
) -> str:
    """DuckDB twin of bradley_terry_strengths: the MM rounds unrolled
    as MATERIALIZED CTEs. Every step is HUGEINT arithmetic — integer
    sums (no accumulation order) and floor-divisions `//` that mirror
    Spark's subtract-modulo exact DECIMAL division (all operands
    non-negative, so floor == truncate) — the replay is bit-identical
    with no rounding-boundary dice; the single final double division
    is exact-int-over-power-of-ten."""
    S = "CAST(1000000000000000000 AS HUGEINT)"  # 1e18
    rounds = []
    for s in range(n_rounds):
        rounds.append(f"""
            d{s} AS MATERIALIZED (
              SELECT p.i,
                     sum((CAST(p.n_ij AS HUGEINT) * {S})
                         // (ai.a + aj.a)) AS denom
              FROM prs p
              JOIN r{s} ai ON p.i = ai.i
              JOIN r{s} aj ON p.j = aj.i
              GROUP BY p.i),
            w{s} AS MATERIALIZED (
              SELECT it.i,
                     CASE WHEN d.denom > 0
                          THEN (CAST(it.wins AS HUGEINT) * {S} * 1000000)
                               // d.denom
                          ELSE CAST(0 AS HUGEINT) END AS raw
              FROM items it JOIN d{s} d ON it.i = d.i),
            t{s} AS (SELECT sum(raw) AS tot FROM w{s}),
            r{s + 1} AS MATERIALIZED (
              SELECT i,
                     greatest(CAST({min_a} AS HUGEINT),
                       CASE WHEN t.tot > 0
                            THEN (raw * {grid}) // t.tot
                            ELSE CAST(0 AS HUGEINT) END) AS a
              FROM w{s} CROSS JOIN t{s} t)""")
    return f"""
            WITH per AS MATERIALIZED (
              SELECT user_id AS u, event_type AS t,
                     CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY user_id, event_type),
            cells AS MATERIALIZED (
              SELECT a.t AS i, b.t AS j, CAST(count(*) AS BIGINT) AS w
              FROM per a JOIN per b
                ON a.u = b.u AND a.t <> b.t AND a.c > b.c
              GROUP BY a.t, b.t),
            sym AS MATERIALIZED (
              SELECT i, j, CAST(sum(w) AS BIGINT) AS w FROM (
                SELECT i, j, w FROM cells
                UNION ALL
                SELECT j AS i, i AS j, CAST(0 AS BIGINT) AS w FROM cells)
              GROUP BY i, j),
            prs AS MATERIALIZED (
              SELECT s.i, s.j, s.w,
                     s.w + coalesce(r.w, 0) AS n_ij
              FROM sym s LEFT JOIN sym r ON s.i = r.j AND s.j = r.i
              WHERE s.w + coalesce(r.w, 0) > 0),
            items AS MATERIALIZED (
              SELECT i, CAST(sum(w) AS BIGINT) AS wins,
                     CAST(sum(n_ij) AS BIGINT) AS n_comp
              FROM prs GROUP BY i),
            kk AS (SELECT count(*) AS k FROM items),
            r0 AS MATERIALIZED (
              SELECT i, CAST(greatest({min_a}, {grid} // kk.k) AS HUGEINT)
                       AS a
              FROM items CROSS JOIN kk),{",".join(rounds)}
            SELECT it.i AS item, it.wins, it.n_comp AS n_comparisons,
                   CAST(r.a AS BIGINT) AS a_grid,
                   CAST(r.a AS DOUBLE) / {grid} AS strength_q9
            FROM items it JOIN r{n_rounds} r ON it.i = r.i
        """


@query(oracle=_bt_oracle_sql(6))
def q_bradley_terry(spark, sf):
    """Bradley-Terry preference strengths over event types: a user
    'prefers' type i to j when they did strictly more of i, the win
    table feeds 6 integer-exact Hunter-MM rounds on the 1e-9 strength
    grid (bit-identical in any engine — every division is an exact
    decimal floor-division, every sum an integer sum)."""
    from pdf_to_vectordb_etl_spark.operators.supervised import (
        bradley_terry_strengths,
    )

    ev = _t(spark, sf, "events")
    per = ev.groupBy(
        F.col("user_id").alias("u"), F.col("event_type").alias("t")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    return bradley_terry_strengths(_bt_cells_from_counts(per), n_rounds=6)


@query(oracle_of="bradley_terry")
def q_t31_stream_bradley_terry(spark, sf):
    """T31 — live preference-strength monitor: per-(user, event_type)
    counts as the associative streaming state (the cells/finale
    recipe), snapshot through the IDENTICAL win-pairing + 6-round MM
    finale as the batch path; the batch SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators.supervised import (
        bradley_terry_strengths,
    )
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = (
        table_stream(spark, sf, "events")
        .groupBy(
            F.col("user_id").alias("u"), F.col("event_type").alias("t")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # break the shared memory-view lineage before the finale's
    # self-join (conflicting-reference analyzer error otherwise)
    snap = drain_to_memory(stream, "t31_bt_counts").localCheckpoint(eager=True)
    return bradley_terry_strengths(_bt_cells_from_counts(snap), n_rounds=6)


# Fleiss: every cross-item statistic is an exact pico-grid
# integer (HUGEINT // mirrors Spark's DECIMAL(38,0) div — all
# numerators non-negative, so floor == truncate); the final
# kappa division replays the operator's exact op order.
@query(oracle=r"""
            WITH cells AS (
              SELECT user_id AS i, event_type AS cat,
                     CAST(count(*) AS BIGINT) AS nic
              FROM events GROUP BY user_id, event_type),
            per_item AS (
              SELECT i, CAST(sum(nic) AS BIGINT) AS ni,
                     sum(CAST(nic AS HUGEINT) * nic) AS si
              FROM cells GROUP BY i),
            kept AS (SELECT * FROM per_item WHERE ni >= 2),
            pi AS (
              SELECT ni,
                     ((si - ni) * CAST(1000000000000 AS HUGEINT))
                       // (CAST(ni AS HUGEINT) * (ni - 1)) AS pi_pico
              FROM kept),
            ti AS (
              SELECT CAST(count(*) AS BIGINT) AS n_items,
                     coalesce(sum(pi_pico), 0) AS pi_sum,
                     CAST(coalesce(sum(ni), 0) AS BIGINT) AS n_ratings
              FROM pi),
            dr AS (
              SELECT CAST(count(*) AS BIGINT) AS n_dropped
              FROM per_item WHERE ni < 2),
            ct AS (
              SELECT cat, CAST(sum(nic) AS BIGINT) AS cc
              FROM cells JOIN kept USING (i) GROUP BY cat),
            pe AS (
              SELECT CAST(coalesce(sum(
                       (CAST(cc AS HUGEINT) * cc
                        * CAST(1000000000000 AS HUGEINT))
                       // (CAST(t.t AS HUGEINT) * t.t)), 0) AS BIGINT)
                       AS pe_pico
              FROM ct CROSS JOIN
                   (SELECT CAST(sum(cc) AS BIGINT) AS t FROM ct) t)
            SELECT n_items, n_dropped, n_ratings,
                   CASE WHEN n_items > 0
                        THEN CAST(pi_sum // n_items AS BIGINT) / 1e12
                   END AS p_bar_q12,
                   CASE WHEN n_items > 0 THEN pe_pico / 1e12
                   END AS p_e_q12,
                   CASE WHEN n_items > 0
                         AND 1000000000000 - pe_pico > 0
                        THEN floor(
                          CAST(CAST(pi_sum // n_items AS BIGINT)
                               - pe_pico AS DOUBLE)
                          / CAST(1000000000000 - pe_pico AS DOUBLE)
                          * 1e6) / 1e6
                   END AS kappa_q6
            FROM ti CROSS JOIN dr CROSS JOIN pe
        """)
def q_fleiss_kappa(spark, sf):
    """Fleiss' kappa over the implicit (user = item, event_type =
    category) rating table — the multi-rater agreement check an
    LLM-judge ensemble needs before its labels gate a corpus. All
    cross-item statistics are exact pico-grid integer sums (the
    pass_at_k / eval_map_ann convention); kappa's single division is
    double-over-<2^53-ints, 1e-6 floored."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    ev_df = _t(spark, sf, "events")
    return ev.fleiss_kappa(ev_df, "user_id", "event_type")


# Murphy decomposition: forecast floored onto the micro grid
# once at the boundary, every mean an exact integer sum; the
# component divisions replay the operator's subtract-modulo
# exact division as HUGEINT floor-division (non-negative).
@query(oracle=r"""
            WITH base AS (
              SELECT CAST(floor(value / (value + 100) * 1000000)
                          AS BIGINT) AS p_micro,
                     CASE WHEN event_type IN ('purchase', 'signup')
                          THEN 1 ELSE 0 END AS y
              FROM events WHERE value IS NOT NULL AND value >= 0),
            binned AS (
              SELECT least((p_micro * 20) // 1000000, 19) AS bin,
                     p_micro, y,
                     CAST(p_micro - y * 1000000 AS HUGEINT)
                       * (p_micro - y * 1000000) AS sq
              FROM base),
            cells AS (
              SELECT bin, CAST(count(*) AS BIGINT) AS nk,
                     CAST(sum(p_micro) AS HUGEINT) AS sp,
                     CAST(sum(y) AS BIGINT) AS sy,
                     sum(sq) AS ssq
              FROM binned GROUP BY bin),
            lifted AS (
              SELECT nk, sy, ssq,
                     (sp * 1000000) // nk AS pbar12,
                     (CAST(sy AS HUGEINT) * 1000000000000) // nk
                       AS ybar12
              FROM cells),
            tot AS (
              SELECT CAST(coalesce(sum(nk), 0) AS BIGINT) AS n,
                     CAST(coalesce(sum(sy), 0) AS BIGINT) AS y_tot,
                     coalesce(sum(ssq), 0) AS ssq_tot
              FROM lifted),
            wg AS (
              SELECT l.nk, l.pbar12, l.ybar12, t.n, t.ssq_tot,
                     (CAST(t.y_tot AS HUGEINT) * 1000000000000) // t.n
                       AS gbar12
              FROM lifted l CROSS JOIN tot t WHERE t.n > 0),
            agg AS (
              SELECT n, ssq_tot, gbar12,
                     sum(nk * CAST(pbar12 - ybar12 AS HUGEINT)
                         * (pbar12 - ybar12)) AS rel_sum,
                     sum(nk * CAST(ybar12 - gbar12 AS HUGEINT)
                         * (ybar12 - gbar12)) AS res_sum
              FROM wg GROUP BY n, ssq_tot, gbar12),
            fin AS (
              SELECT n, gbar12,
                     CAST(rel_sum // (CAST(n AS HUGEINT)
                          * 1000000000000) AS BIGINT) AS rel12,
                     CAST(res_sum // (CAST(n AS HUGEINT)
                          * 1000000000000) AS BIGINT) AS res12,
                     CAST(ssq_tot // n AS BIGINT) AS brier12,
                     CAST((CAST(gbar12 AS HUGEINT)
                           * (1000000000000 - gbar12))
                          // CAST(1000000000000 AS HUGEINT) AS BIGINT)
                       AS unc12
              FROM agg)
            SELECT n, 20 AS n_bins,
                   CAST(brier12 // 1000000 AS BIGINT) / 1e6
                     AS brier_q6,
                   CAST(rel12 // 1000000 AS BIGINT) / 1e6
                     AS reliability_q6,
                   CAST(res12 // 1000000 AS BIGINT) / 1e6
                     AS resolution_q6,
                   CAST(unc12 // 1000000 AS BIGINT) / 1e6
                     AS uncertainty_q6
            FROM fin
        """)
def q_brier_decomposition(spark, sf):
    """Murphy decomposition of the Brier score for a deterministic
    monotone forecast p = value/(value+100) of conversion
    (purchase/signup), 20 equal-width bins. The forecast is floored
    onto the 1e-6 integer grid ONCE at the boundary, so every bin
    mean downstream is an exact integer sum — no float accumulation
    order anywhere; finals are exact-int doubles, 1e-6 floored."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    e = _t(spark, sf, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    base = e.select(
        F.floor(
            F.col("value") / (F.col("value") + 100) * 1000000
        ).cast("long").alias("p_micro"),
        F.col("event_type").isin("purchase", "signup").alias("y"),
    )
    return ev.brier_decomposition(base, "p_micro", "y", n_bins=20)


# McNemar: exact micro-grid integer divisions (nonneg numerators —
# the diff is squared), decision = integer compare vs the literal
# chi2(1, .95) micro grid
@query(oracle=r"""
        WITH base AS (
          SELECT CASE WHEN instr(coalesce(text, ''), 'data') > 0
                      THEN 1 ELSE 0 END AS a,
                 CASE WHEN instr(coalesce(text, ''), 'merge') > 0
                      THEN 1 ELSE 0 END AS b
          FROM documents),
        cells AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items,
                 CAST(coalesce(sum(CASE WHEN a = 1 AND b = 0
                                        THEN 1 ELSE 0 END), 0)
                      AS BIGINT) AS b_count,
                 CAST(coalesce(sum(CASE WHEN a = 0 AND b = 1
                                        THEN 1 ELSE 0 END), 0)
                      AS BIGINT) AS c_count
          FROM base)
        SELECT n_items, b_count, c_count,
               b_count + c_count AS n_discordant,
               CASE WHEN b_count + c_count > 0 THEN
                 ((CAST(b_count - c_count AS HUGEINT)
                   * (b_count - c_count) * 1000000)
                  // (b_count + c_count)) / 1e6 END AS chi2_q6,
               CASE WHEN b_count + c_count > 0 THEN
                 ((CAST(greatest(abs(b_count - c_count) - 1, 0) AS HUGEINT)
                   * greatest(abs(b_count - c_count) - 1, 0) * 1000000)
                  // (b_count + c_count)) / 1e6 END AS chi2_cc_q6,
               CASE WHEN b_count + c_count > 0 THEN
                 ((CAST(greatest(abs(b_count - c_count) - 1, 0) AS HUGEINT)
                   * greatest(abs(b_count - c_count) - 1, 0) * 1000000)
                  // (b_count + c_count)) > 3841459 END AS reject_05
        FROM cells
    """)
def q_mcnemar_filters(spark, sf):
    """McNemar paired test of two keyword relevance classifiers
    (A = doc mentions 'data', B = doc mentions 'merge') over the SAME
    documents — the honest way to compare two corpus filters. The
    statistic and its continuity correction are exact micro-grid
    integer divisions; the 5% decision is an integer compare against
    the literal chi2(1, .95) micro grid (no float anywhere)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    docs = _t(spark, sf, "documents")
    txt = F.coalesce(F.col("text"), F.lit(""))
    base = docs.select(
        (F.instr(txt, "data") > 0).alias("pred_a"),
        (F.instr(txt, "merge") > 0).alias("pred_b"),
    )
    return ev.mcnemar_test(base, "pred_a", "pred_b")


# Cochran's Q: presence marks are distinct (item, treatment) pairs;
# numerator is nonneg by Cauchy-Schwarz, denominator nonneg since
# x_i <= k — the single floor-division never sees a negative
@query(oracle=r"""
        WITH marks AS (
          SELECT DISTINCT user_id AS i, event_type AS t FROM events
          WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        tj AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 sum(CAST(tjc AS HUGEINT) * tjc) AS sum_tj2,
                 CAST(sum(tjc) AS BIGINT) AS g_marks
          FROM (SELECT t, CAST(count(*) AS BIGINT) AS tjc
                FROM marks GROUP BY t)),
        xi AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items,
                 sum(CAST(xic AS HUGEINT) * xic) AS sum_xi2
          FROM (SELECT i, CAST(count(*) AS BIGINT) AS xic
                FROM marks GROUP BY i))
        SELECT k AS k_treatments, n_items, g_marks,
               CASE WHEN CAST(k AS HUGEINT) * g_marks - sum_xi2 > 0 THEN
                 ((CAST(k - 1 AS HUGEINT)
                   * (k * sum_tj2 - CAST(g_marks AS HUGEINT) * g_marks)
                   * 1000000)
                  // (CAST(k AS HUGEINT) * g_marks - sum_xi2)) / 1e6
               END AS q_q6
        FROM tj CROSS JOIN xi
    """)
def q_cochran_q_event_types(spark, sf):
    """Cochran's Q over the complete user x event-type presence blocks
    (did each user ever fire each of the k event types) — the
    k-treatment generalization of McNemar. All sums exact integers,
    one nonneg micro-grid floor-division."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    ev_df = _t(spark, sf, "events")
    return ev.cochran_q(ev_df, "user_id", "event_type")


# Krippendorff nominal alpha: pico-quantized per-item disagreement
# (fleiss convention); alpha's floor emulated from NONNEG divisions
# only (DuckDB // truncates toward zero on negatives)
@query(oracle=r"""
        WITH cells AS (
          SELECT user_id AS i, event_type AS cat,
                 CAST(count(*) AS BIGINT) AS nic
          FROM events GROUP BY user_id, event_type),
        per_item AS (
          SELECT i, CAST(sum(nic) AS BIGINT) AS ni,
                 sum(CAST(nic AS HUGEINT) * nic) AS si
          FROM cells GROUP BY i),
        kept AS (SELECT * FROM per_item WHERE ni >= 2),
        do_t AS (
          SELECT ni,
                 ((CAST(ni AS HUGEINT) * ni - si)
                  * CAST(1000000000000 AS HUGEINT)) // (ni - 1) AS do_pico
          FROM kept),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items,
                 coalesce(sum(do_pico), 0) AS do_sum,
                 CAST(coalesce(sum(ni), 0) AS BIGINT) AS n_ratings
          FROM do_t),
        dr AS (
          SELECT CAST(count(*) AS BIGINT) AS n_dropped
          FROM per_item WHERE ni < 2),
        ct AS (
          SELECT cat, CAST(sum(nic) AS BIGINT) AS cc
          FROM cells JOIN kept USING (i) GROUP BY cat),
        es AS (
          SELECT coalesce(sum(CAST(cc AS HUGEINT) * (t.nn - cc)), 0)
                   AS e_sum
          FROM ct CROSS JOIN
               (SELECT CAST(sum(cc) AS BIGINT) AS nn FROM ct) t)
        SELECT n_items, n_dropped, n_ratings,
               CASE WHEN n_ratings >= 2 THEN
                 CAST(do_sum // n_ratings AS BIGINT) / 1e12
               END AS d_o_q12,
               CASE WHEN e_sum > 0 THEN
                 CAST((e_sum * CAST(1000000000000 AS HUGEINT))
                      // (CAST(n_ratings AS HUGEINT) * (n_ratings - 1))
                      AS BIGINT) / 1e12
               END AS d_e_q12,
               CASE WHEN e_sum > 0 THEN CAST(CASE
                 WHEN e_sum * CAST(1000000000000 AS HUGEINT)
                      >= (n_ratings - 1) * do_sum THEN
                   ((e_sum * CAST(1000000000000 AS HUGEINT)
                     - (n_ratings - 1) * do_sum) * 1000000)
                   // (e_sum * CAST(1000000000000 AS HUGEINT))
                 ELSE
                   -((((n_ratings - 1) * do_sum
                       - e_sum * CAST(1000000000000 AS HUGEINT)) * 1000000
                      + e_sum * CAST(1000000000000 AS HUGEINT) - 1)
                     // (e_sum * CAST(1000000000000 AS HUGEINT)))
                 END AS BIGINT) / 1e6 END AS alpha_q6
        FROM tot CROSS JOIN dr CROSS JOIN es
    """)
def q_krippendorff_alpha(spark, sf):
    """Krippendorff's alpha (nominal) over the (user = item,
    event_type = category) rating table — the variable-rater agreement
    statistic that stays defined under missing ratings, complementing
    fleiss_kappa on the same data. Per-item disagreement terms are
    pico-quantized exact integers; alpha's floor is emulated from
    NONNEG divisions only (the numerator can be negative and DuckDB's
    // truncates toward zero there)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    ev_df = _t(spark, sf, "events")
    return ev.krippendorff_alpha(ev_df, "user_id", "event_type")


# T35's cell snapshot over identical rows equals the batch cell
# table, and the finale is the same code path — batch SQL is the
# parity oracle
@query(oracle_of="krippendorff_alpha")
def q_t35_stream_krippendorff(spark, sf):
    """T35 — live inter-annotator agreement monitor: the (item,
    category, count) cell table is the associative streaming state
    (cells/finale recipe), snapshot through the IDENTICAL
    krippendorff_alpha_from_cells finale as the batch path; the batch
    SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        krippendorff_alpha_from_cells,
    )
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = (
        table_stream(spark, sf, "events")
        .groupBy(
            F.col("user_id").alias("i"), F.col("event_type").alias("cat")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("nic"))
    )
    snap = drain_to_memory(stream, "t35_kripp_cells").localCheckpoint(eager=True)
    return krippendorff_alpha_from_cells(snap)


# lexical diversity: exact integer counts, nonneg micro floor-divs
_LEXICAL_DIVERSITY_ORACLE_SQL = r"""
        WITH docs AS (
          SELECT source, coalesce(text, '') AS text FROM documents),
        toks AS (
          SELECT g, tok FROM (
            SELECT source AS g,
                   unnest(string_split_regex(lower(text), '\s+')) AS tok
            FROM docs)
          WHERE tok <> ''),
        cells AS (
          SELECT g, tok, CAST(count(*) AS BIGINT) AS c
          FROM toks GROUP BY g, tok),
        pg AS (
          SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS n_types,
                 CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax
          FROM cells GROUP BY g),
        d AS (
          SELECT source AS g, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source)
        SELECT d.g AS source, n_docs,
               coalesce(n_tokens, 0) AS n_tokens,
               coalesce(n_types, 0) AS n_types,
               coalesce(n_hapax, 0) AS n_hapax,
               CASE WHEN coalesce(n_tokens, 0) > 0 THEN
                 ((CAST(n_types AS HUGEINT) * 1000000) // n_tokens) / 1e6
               END AS ttr_q6,
               CASE WHEN coalesce(n_types, 0) > 0 THEN
                 ((CAST(n_hapax AS HUGEINT) * 1000000) // n_types) / 1e6
               END AS hapax_frac_q6
        FROM d LEFT JOIN pg USING (g)
    """

@query(oracle=_LEXICAL_DIVERSITY_ORACLE_SQL)
def q_lexical_diversity(spark, sf):
    """Per-source type-token ratio and hapax fraction — the cheap
    vocabulary-richness screens (template farms read low-TTR, OCR
    noise reads hapax-heavy). One (source, token) hash agg + bounded
    reagg; ratios are exact nonneg micro floor-divisions."""
    docs = _t(spark, sf, "documents")
    return ta.lexical_diversity(docs, "text", "source")


# Heaps-law growth: first-occurrence min-agg + rank-derived cutoffs;
# ids deduped on BOTH sides so duplicate-id fixtures can't split
# the rank universe
@query(oracle=r"""
        WITH docs AS (
          SELECT doc_id, coalesce(text, '') AS text FROM documents),
        per_doc AS (
          SELECT doc_id AS id,
                 CAST(len(list_filter(
                   string_split_regex(lower(text), '\s+'),
                   t -> t <> '')) AS BIGINT) AS n_tok
          FROM docs),
        toks AS (
          SELECT id, tok FROM (
            SELECT doc_id AS id,
                   unnest(string_split_regex(lower(text), '\s+')) AS tok
            FROM docs)
          WHERE tok <> ''),
        first_seen AS (
          SELECT tok, min(id) AS first_id FROM toks GROUP BY tok),
        ids AS (SELECT DISTINCT id FROM per_doc),
        ranked AS (
          SELECT id, row_number() OVER (ORDER BY id) AS rn FROM ids),
        n_tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ids),
        cps AS (
          SELECT k AS checkpoint, (k * n) // 10 AS cut_rn
          FROM n_tot, range(1, 11) t(k)
          WHERE (k * n) // 10 >= 1),
        cuts AS (
          SELECT checkpoint, r.id AS cutoff_id, r.rn
          FROM ranked r JOIN cps ON r.rn = cps.cut_rn),
        vc AS (
          SELECT checkpoint, CAST(count(*) AS BIGINT) AS n_types_cum
          FROM first_seen f JOIN cuts c ON f.first_id <= c.cutoff_id
          GROUP BY checkpoint),
        tc AS (
          SELECT checkpoint, CAST(sum(n_tok) AS BIGINT) AS n_tokens_cum
          FROM per_doc p JOIN cuts c ON p.id <= c.cutoff_id
          GROUP BY checkpoint)
        SELECT c.checkpoint, c.cutoff_id,
               CAST(c.rn AS BIGINT) AS n_docs_cum,
               coalesce(tc.n_tokens_cum, 0) AS n_tokens_cum,
               coalesce(vc.n_types_cum, 0) AS n_types_cum
        FROM cuts c
        LEFT JOIN vc USING (checkpoint)
        LEFT JOIN tc USING (checkpoint)
    """)
def q_vocab_growth(spark, sf):
    """Heaps-law vocabulary growth at 10 corpus prefixes (ascending
    doc_id): is new data still contributing new vocabulary? Token
    first-occurrence is one min-agg; cutoffs come from the sanctioned
    global_row_number primitive; the rollup joins the VOCAB-sized
    first-seen table against the broadcast 10-row cutoff list."""
    docs = _t(spark, sf, "documents")
    return ta.vocab_growth_curve(docs, "text", "doc_id", n_checkpoints=10)


# KNN-Shapley (Jia et al. 2019 closed form): micro-quantized
# integer distances, pico-grid increments with the sign applied
# OUTSIDE the (nonneg) floor-division, per-query suffix sums —
# the oracle may use real windows where the Spark side uses the
# global-rank primitives
@query(oracle=r"""
        WITH q AS (
          SELECT vec_id AS qid, label AS qy,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
          FROM embeddings
          WHERE vec_id < 4 AND embedding IS NOT NULL),
        tr AS (
          SELECT vec_id AS tid, label AS ty,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000) AS BIGINT)) AS tv
          FROM embeddings
          WHERE vec_id >= 4 AND embedding IS NOT NULL),
        scored AS (
          SELECT qid, tid,
                 list_sum(list_transform(list_zip(qv, tv),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist,
                 CASE WHEN ty = qy THEN 1 ELSE 0 END AS ind
          FROM tr CROSS JOIN q),
        ranked AS (
          SELECT qid, tid, ind,
                 CAST(row_number() OVER (
                   PARTITION BY qid ORDER BY dist, tid) AS BIGINT)
                   AS knn_rank,
                 CAST(count(*) OVER (PARTITION BY qid) AS BIGINT)
                   AS n_train
          FROM scored),
        d AS (
          SELECT qid, tid, ind, knn_rank, n_train,
                 CASE WHEN ind_next IS NULL THEN CAST(0 AS HUGEINT)
                      ELSE (ind - ind_next)
                           * ((CAST(1000000000000 AS HUGEINT)
                               * least(5, knn_rank)) // (5 * knn_rank))
                 END AS delta_pico
          FROM (SELECT *, lead(ind) OVER (
                  PARTITION BY qid ORDER BY knn_rank) AS ind_next
                FROM ranked)),
        s AS (
          SELECT qid, tid, ind, knn_rank,
                 CAST(max(CASE WHEN knn_rank = n_train THEN ind END)
                        OVER (PARTITION BY qid)
                      * (CAST(1000000000000 AS HUGEINT) // n_train)
                      + sum(delta_pico) OVER (
                          PARTITION BY qid ORDER BY knn_rank DESC)
                      AS BIGINT) AS s_pico
          FROM d),
        vr AS (
          SELECT qid, tid AS vec_id, knn_rank,
                 s_pico / 1e12 AS shapley_q12,
                 ind = 1 AS label_match,
                 CAST(row_number() OVER (
                   PARTITION BY qid ORDER BY s_pico DESC, tid)
                   AS BIGINT) AS value_rank
          FROM s)
        SELECT qid, vec_id, knn_rank, value_rank, shapley_q12,
               label_match
        FROM vr WHERE value_rank <= 20
    """)
def q_knn_shapley(spark, sf):
    """Exact K-NN Shapley data valuation (Jia et al. 2019) of every
    train embedding against a 4-vector probe panel, top-20 most
    valuable per probe. Distances and the far-to-near suffix recursion
    are exact integers on the micro/pico grids; ranks come from
    global_row_number + per-query offset joins (ccnet recipe), never a
    corpus-sized per-query window."""
    from pdf_to_vectordb_etl_spark.operators.valuation import knn_shapley

    emb = _t(spark, sf, "embeddings")
    return knn_shapley(
        emb.filter(F.col("vec_id") >= 4),
        emb.filter(F.col("vec_id") < 4),
        k=5,
        top_n=20,
    )


# IPS/SNIPS: per-action pico weights and exact integer reward
# sums; signed finals via the symmetric nonneg floor-div emulation
@query(oracle=r"""
        WITH base AS (
          SELECT event_type AS a,
                 CAST(floor(value * 1000000) AS BIGINT) AS r_micro
          FROM events
          WHERE event_type IS NOT NULL AND value IS NOT NULL
            AND NOT isnan(value)),
        pa AS (
          SELECT a, CAST(count(*) AS BIGINT) AS na,
                 sum(CAST(r_micro AS HUGEINT)) AS sr
          FROM base GROUP BY a),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS k_actions,
                 CAST(coalesce(sum(na), 0) AS BIGINT) AS n_logs,
                 coalesce(sum(sr), 0) AS sr_all
          FROM pa),
        w AS (
          SELECT na, sr, k_actions, n_logs, sr_all,
                 (CAST(n_logs AS HUGEINT) * 1000000000000)
                   // (CAST(k_actions AS HUGEINT) * na) AS w_pico
          FROM pa CROSS JOIN tot),
        agg AS (
          SELECT k_actions, n_logs, sr_all,
                 sum(CAST(w_pico AS HUGEINT) * sr) AS num,
                 sum(CAST(na AS HUGEINT) * w_pico) AS den_pico
          FROM w GROUP BY 1, 2, 3)
        SELECT n_logs, k_actions,
               CASE WHEN n_logs > 0 THEN CAST(CASE
                 WHEN sr_all >= 0 THEN sr_all // CAST(n_logs AS HUGEINT)
                 ELSE -((-sr_all + CAST(n_logs AS HUGEINT) - 1)
                        // CAST(n_logs AS HUGEINT))
               END AS BIGINT) / 1e6 END AS logged_mean_q6,
               CASE WHEN CAST(n_logs AS HUGEINT) * 1000000000000 > 0
                 THEN CAST(CASE
                 WHEN num >= 0 THEN
                   num // (CAST(n_logs AS HUGEINT) * 1000000000000)
                 ELSE -((-num + CAST(n_logs AS HUGEINT) * 1000000000000
                         - 1)
                        // (CAST(n_logs AS HUGEINT) * 1000000000000))
               END AS BIGINT) / 1e6 END AS ips_q6,
               CASE WHEN den_pico > 0 THEN CAST(CASE
                 WHEN num >= 0 THEN num // den_pico
                 ELSE -((-num + den_pico - 1) // den_pico)
               END AS BIGINT) / 1e6 END AS snips_q6
        FROM agg
    """)
def q_offpolicy_ips(spark, sf):
    """IPS / SNIPS off-policy value of the uniform selection policy
    over the logged (event_type, value) decisions with empirical
    behavior propensities — one hash agg + bounded rollup, every
    estimate a single exact signed floor-division over DECIMAL
    integers."""
    from pdf_to_vectordb_etl_spark.operators.valuation import (
        offpolicy_ips_snips,
    )

    ev = _t(spark, sf, "events")
    return offpolicy_ips_snips(ev, "event_type", "value")


def _pca_oracle_sql(n_rounds: int = 6) -> str:
    """DuckDB twin of pca_top_component: the power-iteration rounds
    unrolled as MATERIALIZED CTEs over the same integer covariance.
    DuckDB's ``//`` truncates toward zero on signed HUGEINTs, exactly
    matching the driver's abs-based tdiv; num/vtv are pre-scaled by
    PICO before the evr division so nothing passes 2^127."""
    P = "CAST(1000000000000 AS HUGEINT)"  # pico
    rounds = []
    for r in range(1, n_rounds + 1):
        prev = f"v{r - 1}"
        rounds.append(
            f"""
        u{r} AS MATERIALIZED (
          SELECT c.i AS i, sum(c.c * p.val) AS u
          FROM cs c JOIN {prev} p ON c.j = p.i GROUP BY c.i),
        m{r} AS MATERIALIZED (SELECT max(abs(u)) AS m FROM u{r}),
        v{r} AS MATERIALIZED (
          SELECT u.i AS i,
                 CASE WHEN m.m = 0 THEN pv.val
                      ELSE (u.u * {P}) // m.m END AS val
          FROM u{r} u JOIN {prev} pv ON u.i = pv.i CROSS JOIN m{r} m)"""
        )
    last = f"v{n_rounds}"
    return f"""
        WITH xs AS MATERIALIZED (
          SELECT vec_id AS r,
                 unnest(range(len(embedding))) AS i,
                 unnest(list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000) AS BIGINT))) AS xi
          FROM embeddings),
        cells AS MATERIALIZED (
          SELECT a.i AS i, b.i AS j,
                 sum(CAST(a.xi AS HUGEINT) * b.xi) AS g,
                 CAST(count(*) AS BIGINT) AS n
          FROM xs a JOIN xs b ON a.r = b.r AND a.i <= b.i
          GROUP BY 1, 2),
        nn AS (SELECT max(n) AS n FROM cells),
        sums AS (SELECT i, sum(CAST(xi AS HUGEINT)) AS s FROM xs GROUP BY i),
        cov0 AS MATERIALIZED (
          SELECT c.i, c.j, nn.n * c.g - sa.s * sb.s AS c
          FROM cells c, nn, sums sa, sums sb
          WHERE sa.i = c.i AND sb.i = c.j),
        cov AS MATERIALIZED (
          SELECT i, j, c FROM cov0
          UNION ALL
          SELECT j AS i, i AS j, c FROM cov0 WHERE i < j),
        mxc AS (
          SELECT greatest(CAST(1 AS HUGEINT), max(abs(c)) // 1000000)
            AS cscale FROM cov),
        cs AS MATERIALIZED (
          SELECT i, j, c // cscale AS c FROM cov, mxc),
        strt AS (
          SELECT i AS start FROM cs WHERE i = j
          ORDER BY c DESC, i LIMIT 1),
        v0 AS MATERIALIZED (
          SELECT d.i AS i,
                 CASE WHEN d.i = strt.start THEN {P}
                      ELSE CAST(0 AS HUGEINT) END AS val
          FROM (SELECT DISTINCT i FROM cs) d, strt),{",".join(rounds)},
        firstnz AS (
          SELECT val FROM {last} WHERE val <> 0 ORDER BY i LIMIT 1),
        sgn AS (
          SELECT CASE WHEN coalesce((SELECT val FROM firstnz), 1) < 0
                      THEN -1 ELSE 1 END AS sg),
        fin AS (
          SELECT sum(c.c * va.val * vb.val) AS num
          FROM cs c
          JOIN {last} va ON va.i = c.i
          JOIN {last} vb ON vb.i = c.j),
        vtv AS (SELECT sum(val * val) AS vtv FROM {last}),
        tr AS (SELECT sum(c) AS trace FROM cs WHERE i = j)
        SELECT CAST(v.i AS INT) AS dim,
               CAST(v.val * sgn.sg AS BIGINT) / 1e12 AS loading_q12,
               CASE WHEN (vtv.vtv // {P}) * tr.trace > 0 THEN
                 CAST(((greatest(fin.num, 0) // {P}) * 1000000)
                      // ((vtv.vtv // {P}) * tr.trace) AS BIGINT) / 1e6
               END AS evr_q6
        FROM {last} v, sgn, fin, vtv, tr
    """

@query(oracle=_pca_oracle_sql(6))
def q_pca_top_component(spark, sf):
    """Top principal component of the embedding table by power
    iteration on the EXACT integer covariance (micro-grid quantize →
    N*G - S S^T over one posexplode + row-key self-join; the d x d
    cell table is a bounded driver artifact, the adaboost contract).
    Every division on both engines is a trunc-toward-zero on the same
    integers — bit-identical trajectory."""
    from pdf_to_vectordb_etl_spark.operators.clustering import (
        pca_top_component,
    )

    emb = _t(spark, sf, "embeddings")
    return pca_top_component(emb, "embedding", "vec_id", n_rounds=6)


# positional phrase search: tokens + 0-based positions zipped AFTER
# the empty-token filter on both engines; adjacency via pos-offset
# equi-joins
@query(oracle=r"""
        WITH docs AS (
          SELECT doc_id, coalesce(text, '') AS text FROM documents),
        posted AS (
          SELECT id, pos, tok FROM (
            SELECT doc_id AS id,
                   unnest(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '')) AS tok,
                   unnest(range(len(list_filter(
                     string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '')))) AS pos
            FROM docs)
          WHERE tok IN ('join', 'batch', 'table')),
        m0 AS (SELECT id, pos AS p0 FROM posted WHERE tok = 'join'),
        m1 AS (
          SELECT m0.id, m0.p0 FROM m0
          JOIN posted p ON p.id = m0.id AND p.tok = 'batch'
                        AND p.pos = m0.p0 + 1),
        m2 AS (
          SELECT m1.id, m1.p0 FROM m1
          JOIN posted p ON p.id = m1.id AND p.tok = 'table'
                        AND p.pos = m1.p0 + 2)
        SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_matches,
               CAST(min(p0) AS BIGINT) AS first_pos
        FROM m2 GROUP BY id
    """)
def q_phrase_search(spark, sf):
    """Exact 3-token phrase search ('join batch table') via the
    positional postings join — the posting filter IS the index lookup,
    pruning the corpus to the phrase terms' document frequency before
    any join."""
    from pdf_to_vectordb_etl_spark.operators.textsearch import phrase_search

    docs = _t(spark, sf, "documents")
    return phrase_search(docs, ["join", "batch", "table"])


# exact heavy hitters: the MG screen is a no-false-negative
# candidate superset, so the final output equals the plain exact
# threshold count — which is the oracle
@query(oracle=r"""
        WITH toks AS (
          SELECT tok FROM (
            SELECT unnest(list_filter(
              string_split_regex(lower(coalesce(text, '')),
                                 '[^a-z0-9]+'),
              t -> t <> '')) AS tok
            FROM documents)),
        cnt AS (
          SELECT tok AS item, CAST(count(*) AS BIGINT) AS cnt
          FROM toks GROUP BY tok),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
        SELECT item, cnt,
               ((CAST(cnt AS HUGEINT) * 1000000) // n) / 1e6 AS share_q6
        FROM cnt, tot WHERE cnt * 30 > n
    """)
def q_heavy_hitters_mg(spark, sf):
    """Exact token heavy hitters (count > n/30) via the two-phase
    Misra-Gries screen: bounded per-partition summaries -> candidate
    superset (pigeonhole, no false negatives) -> exact recount of
    candidates only — output independent of partitioning, corpus never
    shuffles by token."""
    from pdf_to_vectordb_etl_spark.operators.sketch import (
        heavy_hitters_exact,
    )
    from pdf_to_vectordb_etl_spark.operators.textsearch import tokens

    docs = _t(spark, sf, "documents")
    toks = docs.select(
        F.explode(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("tok")
    )
    # single-file fixture scan would serialize the per-partition MG
    # fold on ONE task AND replay the tokenize for each of the
    # operator's three jobs (summaries / recount / total) —
    # repartition + checkpoint once (callers with real multi-file
    # inputs skip this)
    toks = toks.repartition(32).localCheckpoint(eager=True)
    return heavy_hitters_exact(toks, "tok", k=30)


# T36: per-action cells snapshot == the batch per-action table,
# same finale code path — batch SQL is the parity oracle
@query(oracle_of="offpolicy_ips")
def q_t36_stream_offpolicy(spark, sf):
    """T36 — live off-policy value monitor: per-action (count, exact
    micro-reward sum) cells as the associative streaming state
    (per-row floors BEFORE the sums keep the state mergeable), snapshot
    through the IDENTICAL offpolicy_from_action_cells finale as the
    batch path; the batch SQL is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators.valuation import (
        offpolicy_from_action_cells,
    )
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = (
        table_stream(spark, sf, "events")
        .select(
            F.col("event_type").alias("a"),
            # NaN-guard matches offpolicy_ips_snips (NaN rewards drop)
            F.when(
                ~F.isnan(F.col("value").cast("double")),
                F.floor(F.col("value").cast("double") * 1000000),
            )
            .cast("long")
            .alias("r_micro"),
        )
        .filter(F.col("a").isNotNull() & F.col("r_micro").isNotNull())
        .groupBy("a")
        .agg(
            F.count(F.lit(1)).cast("long").alias("na"),
            F.sum(F.col("r_micro").cast("decimal(38,0)")).alias("sr"),
        )
    )
    snap = drain_to_memory(stream, "t36_offpolicy_cells").localCheckpoint(eager=True)
    return offpolicy_from_action_cells(snap)


# group fairness: exact integer cells, micro floor-div rates, gap
# = integer difference of micro rates
_FAIRNESS_REPORT_ORACLE_SQL = r"""
        WITH base AS (
          SELECT source AS grp,
                 CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS p,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        cells AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(p) AS BIGINT) AS n_sel,
                 CAST(sum(y) AS BIGINT) AS n_pos,
                 CAST(sum(p * y) AS BIGINT) AS n_tp,
                 CAST(sum(p * (1 - y)) AS BIGINT) AS n_fp
          FROM base GROUP BY grp),
        rated AS (
          SELECT grp, n, n_sel, n_pos,
                 CASE WHEN n > 0 THEN
                   (CAST(n_sel AS HUGEINT) * 1000000) // n
                 END AS sel_micro,
                 CASE WHEN n_pos > 0 THEN
                   (CAST(n_tp AS HUGEINT) * 1000000) // n_pos
                 END AS tpr_micro,
                 CASE WHEN n - n_pos > 0 THEN
                   (CAST(n_fp AS HUGEINT) * 1000000) // (n - n_pos)
                 END AS fpr_micro
          FROM cells),
        span AS (
          SELECT max(sel_micro) AS sel_max, min(sel_micro) AS sel_min
          FROM rated)
        SELECT grp AS source, n, n_sel AS n_selected,
               n_pos AS n_label_pos,
               CAST(sel_micro AS BIGINT) / 1e6 AS sel_rate_q6,
               CAST(tpr_micro AS BIGINT) / 1e6 AS tpr_q6,
               CAST(fpr_micro AS BIGINT) / 1e6 AS fpr_q6,
               CAST(sel_max - sel_min AS BIGINT) / 1e6 AS dp_gap_q6
        FROM rated, span
    """

@query(oracle=_FAIRNESS_REPORT_ORACLE_SQL)
def q_fairness_report(spark, sf):
    """Group-fairness audit of a length quality gate (n_chars >= 150)
    across sources, against the lang == 'en' reference label: per-group
    selection rate / TPR / FPR plus the corpus-wide demographic-parity
    gap — all exact micro floor-divisions over integer counts."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        fairness_report,
    )

    docs = _t(spark, sf, "documents")
    base = docs.select(
        "source",
        (F.col("n_chars") >= 150).alias("gate"),
        (F.col("lang") == "en").alias("is_en"),
    )
    return fairness_report(base, "source", "gate", "is_en")


# tokenizer fertility: the SAME encode CTE chain as the graded
# unigram_lm_encode oracle (shared constant), per-source finale
_TOKENIZER_FERTILITY_ORACLE_SQL = _UNIGRAM_ENCODE_CTES + r"""
        , per_src AS (
          SELECT d.source AS g, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(coalesce(sum(p.n_words), 0) AS BIGINT) AS n_words,
                 CAST(coalesce(sum(p.n_oov_words), 0) AS BIGINT)
                   AS n_oov_words,
                 CAST(coalesce(sum(p.n_tokens), 0) AS BIGINT) AS n_tokens
          FROM documents d LEFT JOIN per p USING (doc_id)
          GROUP BY d.source)
        SELECT g AS source, n_docs, n_words, n_oov_words, n_tokens,
               CASE WHEN n_words - n_oov_words > 0 THEN
                 ((CAST(n_tokens AS HUGEINT) * 1000000)
                  // (n_words - n_oov_words)) / 1e6
               END AS tokens_per_word_q6,
               CASE WHEN n_words > 0 THEN
                 ((CAST(n_oov_words AS HUGEINT) * 1000000) // n_words)
                 / 1e6
               END AS oov_rate_q6
        FROM per_src
    """

@query(oracle=_TOKENIZER_FERTILITY_ORACLE_SQL)
def q_tokenizer_fertility(spark, sf):
    """Per-source tokenizer fertility (subword tokens per in-vocab
    word) and OOV rate under the seed unigram-LM piece table — the
    audit that decides whether one corpus slice pays more context
    budget per word than the rest. Composes the graded encode path;
    exact integer rollups."""
    docs = _t(spark, sf, "documents")
    d2 = docs.select(
        "doc_id",
        F.regexp_replace("text", r"[^\x20-\x7e]", "").alias("text"),
    )
    pieces = ta.unigram_seed_pieces(
        d2, vocab_size=64, seed_cap_factor=1, max_piece_len=4,
        max_word_len=12, min_count=2,
    )
    per_doc = ta.unigram_lm_encode(
        d2, pieces, max_piece_len=4, max_word_len=12
    )
    return ta.tokenizer_fertility_by_group(per_doc, docs, "source")


# T37's sentinel-carrying cell snapshot splits into exactly the
# batch cells + doc counts, same finale — batch SQL is the oracle
@query(oracle_of="lexical_diversity")
def q_t37_stream_lexdiv(spark, sf):
    """T37 — live per-source vocabulary-richness monitor: (source,
    token) counts as the associative streaming state, with per-doc
    sentinel rows riding the SAME state to carry doc counts (one
    stream, one agg); snapshot splits the sentinel off and feeds the
    IDENTICAL lexical_diversity_from_cells finale as the batch path."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        lexical_diversity_from_cells,
    )
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    # every REAL token is prefixed 't' and the per-doc sentinel is the
    # bare 'd' — a 1-char state key can never collide with a 2+-char
    # prefixed token, whatever bytes a regenerated corpus ships
    stream = (
        table_stream(spark, sf, "documents")
        .select(
            F.col("source").alias("g"),
            F.explode(
                F.concat(
                    F.array(F.lit("d")),
                    F.transform(
                        F.filter(
                            F.split(
                                F.lower(
                                    F.coalesce(F.col("text"), F.lit(""))
                                ),
                                r"\s+",
                            ),
                            lambda t: t != "",
                        ),
                        lambda t: F.concat(F.lit("t"), t),
                    ),
                )
            ).alias("tok"),
        )
        .groupBy("g", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    snap = drain_to_memory(stream, "t37_lexdiv_cells").localCheckpoint(eager=True)
    cells = snap.filter(F.col("tok") != "d").select(
        "g", F.expr("substring(tok, 2)").alias("tok"), "c"
    )
    docs = snap.filter(F.col("tok") == "d").select(
        "g", F.col("c").alias("n_docs")
    )
    return lexical_diversity_from_cells(cells, docs, "source")


# linear-time MMD^2: exact integer polynomial kernel, rank pairing,
# signed micro finale via the nonneg floor-div emulation (c^2 =
# 1e24 as a HUGEINT product — the literal passes int64)
@query(oracle=r"""
        WITH base AS (
          SELECT label >= 5 AS in_b,
                 vec_id AS id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
          FROM embeddings
          WHERE label IS NOT NULL AND embedding IS NOT NULL),
        r AS (
          SELECT in_b, qv,
                 row_number() OVER (PARTITION BY in_b ORDER BY id)
                   AS rank
          FROM base),
        counts AS (
          SELECT CAST(coalesce(sum(CASE WHEN NOT in_b THEN 1 END), 0)
                      AS BIGINT) AS n_a,
                 CAST(coalesce(sum(CASE WHEN in_b THEN 1 END), 0)
                      AS BIGINT) AS n_b
          FROM base),
        a AS (SELECT rank AS i, qv AS x FROM r WHERE NOT in_b),
        b AS (SELECT rank AS i, qv AS y FROM r WHERE in_b),
        z AS (SELECT a.i, x, y FROM a JOIN b USING (i)),
        odd AS (
          SELECT (i + 1) // 2 AS j, x AS x1, y AS y1
          FROM z WHERE i % 2 = 1),
        even AS (
          SELECT i // 2 AS j, x AS x2, y AS y2 FROM z WHERE i % 2 = 0),
        pairs AS (
          SELECT
            list_sum(list_transform(list_zip(x1, x2),
              p -> p[1] * p[2])) AS sa,
            list_sum(list_transform(list_zip(y1, y2),
              p -> p[1] * p[2])) AS sb,
            list_sum(list_transform(list_zip(x1, y2),
              p -> p[1] * p[2])) AS se,
            list_sum(list_transform(list_zip(x2, y1),
              p -> p[1] * p[2])) AS sf
          FROM odd JOIN even USING (j)),
        hs AS (
          SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                 coalesce(sum(
                   2 * CAST(1000000000000 AS HUGEINT)
                     * (sa + sb - se - sf)
                   + CAST(sa AS HUGEINT) * sa
                   + CAST(sb AS HUGEINT) * sb
                   - CAST(se AS HUGEINT) * se
                   - CAST(sf AS HUGEINT) * sf), 0) AS hs
          FROM pairs)
        SELECT n_a, n_b, n_pairs,
               CASE WHEN n_pairs > 0 THEN CAST(CASE WHEN hs >= 0
                 THEN (hs * 1000000)
                      // (CAST(n_pairs AS HUGEINT)
                          * CAST(1000000000000 AS HUGEINT)
                          * 1000000000000)
                 ELSE -(((-hs) * 1000000
                         + CAST(n_pairs AS HUGEINT)
                           * CAST(1000000000000 AS HUGEINT)
                           * 1000000000000 - 1)
                        // (CAST(n_pairs AS HUGEINT)
                            * CAST(1000000000000 AS HUGEINT)
                            * 1000000000000))
               END AS BIGINT) / 1e6 END AS mmd2_q6
        FROM hs CROSS JOIN counts
    """)
def q_mmd_drift(spark, sf):
    """Linear-time MMD^2 embedding drift test between the label < 5
    and label >= 5 cohorts — exact integer polynomial kernel, one
    corpus pass, deterministic rank pairing (no quadratic kernel
    matrix)."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        mmd_linear_two_sample,
    )

    emb = _t(spark, sf, "embeddings")
    base = emb.withColumn("in_b", F.col("label") >= 5)
    return mmd_linear_two_sample(base, "in_b", "embedding", "vec_id")


# quantile normalization: value copied from the pooled rank table,
# zero arithmetic; rank joins replayed with window row_numbers
@query(oracle=r"""
        WITH base AS (
          SELECT event_id AS id, event_type AS g, value AS v
          FROM events
          WHERE value IS NOT NULL AND NOT isnan(value)),
        gr AS (
          SELECT id, g, v,
                 CAST(row_number() OVER (PARTITION BY g ORDER BY v, id)
                      AS BIGINT) AS r_g,
                 CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n_g
          FROM base),
        pooled AS (
          SELECT CAST(row_number() OVER (ORDER BY v, id) AS BIGINT)
                   AS target_pr,
                 v AS norm_value
          FROM base),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
        SELECT gr.id AS event_id, gr.g AS event_type, gr.v AS value,
               p.norm_value
        FROM gr CROSS JOIN nt
        JOIN pooled p
          ON p.target_pr =
             (CAST(gr.r_g AS HUGEINT) * nt.n + gr.n_g - 1) // gr.n_g
    """)
def q_quantile_normalize(spark, sf):
    """Quantile-normalize per-event-type values onto the pooled
    distribution (Bolstad batch-effect correction) — the mapped value
    is COPIED from the pooled table (zero arithmetic, nothing to
    round); both rank passes are the sanctioned global primitives.
    NaN filtered on both engines (NaN ordering diverges)."""
    from pdf_to_vectordb_etl_spark.operators.aggregates import (
        quantile_normalize,
    )

    ev = _t(spark, sf, "events").filter(
        F.col("value").isNotNull() & ~F.isnan(F.col("value"))
    )
    return quantile_normalize(ev, "value", "event_type", "event_id")


# T38's per-group cell snapshot == the batch cells, same finale —
# batch SQL is the parity oracle
@query(oracle_of="fairness_report")
def q_t38_stream_fairness(spark, sf):
    """T38 — live gate-fairness monitor: the per-group 5-sum cell
    table (n, selected, label-pos, tp, fp) is the associative
    streaming state, snapshot through the IDENTICAL
    fairness_from_group_cells finale as the batch path; the batch SQL
    is the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        fairness_from_group_cells,
    )
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    p = F.coalesce(F.col("n_chars") >= 150, F.lit(False))
    y = F.coalesce(F.col("lang") == "en", F.lit(False))
    stream = (
        table_stream(spark, sf, "documents")
        .groupBy(F.col("source").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(p.cast("long")).cast("long").alias("n_sel"),
            F.sum(y.cast("long")).cast("long").alias("n_pos"),
            F.sum((p & y).cast("long")).cast("long").alias("n_tp"),
            F.sum((p & ~y).cast("long")).cast("long").alias("n_fp"),
        )
    )
    snap = drain_to_memory(stream, "t38_fairness_cells").localCheckpoint(eager=True)
    return fairness_from_group_cells(snap, "source")


# per-group binned AUC: same fixed-grid rank-sum family as
# eval_auc/t14, window partitioned by group over bounded cells
_AUC_BY_SOURCE_ORACLE_SQL = r"""
        WITH binned AS (
          SELECT source AS grp,
                 CAST(least(greatest(
                   CAST(floor((n_chars - 0.0) / 3.0) AS BIGINT), 0),
                   199) AS INT) AS bin,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents WHERE n_chars IS NOT NULL),
        cells AS (
          SELECT grp, bin, CAST(sum(y) AS BIGINT) AS pos,
                 CAST(count(*) - sum(y) AS BIGINT) AS neg
          FROM binned GROUP BY grp, bin),
        cum AS (
          SELECT grp, pos, neg,
                 coalesce(sum(neg) OVER (
                   PARTITION BY grp ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cumneg
          FROM cells),
        per AS (
          SELECT grp,
                 round(sum(pos * (cumneg + neg / 2.0))
                       / nullif(CAST(sum(pos) AS DOUBLE) * sum(neg),
                                0.0), 6) AS auc,
                 CAST(sum(pos) AS BIGINT) AS n_pos,
                 CAST(sum(neg) AS BIGINT) AS n_neg
          FROM cum GROUP BY grp),
        span AS (SELECT max(auc) - min(auc) AS auc_gap FROM per)
        SELECT grp AS source, auc, n_pos, n_neg, auc_gap FROM per, span
    """

@query(oracle=_AUC_BY_SOURCE_ORACLE_SQL)
def q_auc_by_source(spark, sf):
    """Per-source ROC AUC of the doc-length signal against the
    lang == 'en' label, plus the corpus-wide AUC gap — ranking-quality
    parity, the companion of fairness_report's selection parity. Same
    bounded-bins contract as eval_auc, window partitioned by group."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import auc_by_group

    docs = _t(spark, sf, "documents")
    return auc_by_group(
        docs,
        "n_chars",
        F.col("lang") == "en",
        "source",
        n_bins=200,
        lo=0.0,
        hi=600.0,
    )


# source health dashboard: the four component SQLs — each already
# four-fixture-pinned — composed verbatim as subquery CTEs and
# joined on source (nothing new to trust)
@query(oracle=(
        "WITH ld AS (" + _LEXICAL_DIVERSITY_ORACLE_SQL + "),\n"
        "fr AS (" + _FAIRNESS_REPORT_ORACLE_SQL + "),\n"
        "ab AS (" + _AUC_BY_SOURCE_ORACLE_SQL + "),\n"
        "tf AS (" + _TOKENIZER_FERTILITY_ORACLE_SQL + ")\n"
        "SELECT ld.source, ld.n_docs, ld.n_tokens, ld.ttr_q6,"
        " ld.hapax_frac_q6, fr.sel_rate_q6, fr.dp_gap_q6, ab.auc,"
        " ab.auc_gap, tf.tokens_per_word_q6, tf.oov_rate_q6"
        " FROM ld JOIN fr USING (source) JOIN ab USING (source)"
        " JOIN tf USING (source)"
    ))
def q_source_health_report(spark, sf):
    """Per-source corpus-health dashboard — the one table a curation
    team reads before touching a source's mixture weight: lexical
    richness (TTR / hapax), quality-gate fairness (selection rate +
    demographic-parity gap), ranking parity (AUC + gap), and
    tokenizer cost (fertility / OOV). Pure composition of four
    already-oracled operators joined on source; the oracle composes
    the same four SQL bodies as subquery CTEs — nothing new to trust,
    everything already four-fixture-pinned."""
    ld = q_lexical_diversity(spark, sf).select(
        "source", "n_docs", "n_tokens", "ttr_q6", "hapax_frac_q6"
    )
    fr = q_fairness_report(spark, sf).select(
        "source", "sel_rate_q6", "dp_gap_q6"
    )
    ab = q_auc_by_source(spark, sf).select("source", "auc", "auc_gap")
    tf = q_tokenizer_fertility(spark, sf).select(
        "source", "tokens_per_word_q6", "oov_rate_q6"
    )
    return (
        ld.join(fr, "source")
        .join(ab, "source")
        .join(tf, "source")
    )


# T39's (group, bin) histogram snapshot == the batch cells, same
# finale — batch SQL is the parity oracle
@query(oracle_of="auc_by_source")
def q_t39_stream_auc_by_source(spark, sf):
    """T39 — live per-slice ranking-parity monitor: the (group, bin,
    pos, neg) histogram is the associative streaming state (the t14
    recipe, grouped), snapshot through the IDENTICAL
    auc_by_group_from_cells finale as the batch path; the batch SQL is
    the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        auc_by_group_from_cells,
    )
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    width = (600.0 - 0.0) / 200
    b = F.least(
        F.greatest(
            F.floor((F.col("n_chars") - F.lit(0.0)) / F.lit(width)),
            F.lit(0),
        ),
        F.lit(199),
    ).cast("int")
    # NULL lang counts as negative — same coalesce as auc_by_group /
    # the oracle's CASE..ELSE 0
    y = F.coalesce((F.col("lang") == "en").cast("int"), F.lit(0))
    stream = (
        table_stream(spark, sf, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select(F.col("source").alias("grp"), b.alias("bin"), y.alias("y"))
        .groupBy("grp", "bin")
        .agg(
            F.sum("y").alias("pos"),
            (F.count("*") - F.sum("y")).alias("neg"),
        )
    )
    snap = drain_to_memory(stream, "t39_auc_cells").localCheckpoint(eager=True)
    return auc_by_group_from_cells(snap, "source")


# Cohen's d / Hedges' g: exact lattice moments; the double formula
# mirrors the Spark op order token for token
@query(oracle=r"""
        WITH base AS (
          SELECT event_type AS g2,
                 CAST(floor(value * 100) AS BIGINT) AS q
          FROM events
          WHERE value IS NOT NULL AND NOT isnan(value)
            AND event_type IN ('purchase', 'view')),
        agg AS (
          SELECT
            CAST(coalesce(sum(CASE WHEN g2 = 'purchase' THEN 1
                               ELSE 0 END), 0) AS BIGINT) AS n_a,
            CAST(coalesce(sum(CASE WHEN g2 = 'view' THEN 1
                               ELSE 0 END), 0) AS BIGINT) AS n_b,
            coalesce(sum(CASE WHEN g2 = 'purchase'
                          THEN CAST(q AS HUGEINT) END), 0) AS s1a,
            coalesce(sum(CASE WHEN g2 = 'view'
                          THEN CAST(q AS HUGEINT) END), 0) AS s1b,
            coalesce(sum(CASE WHEN g2 = 'purchase'
                          THEN CAST(q AS HUGEINT) * q END), 0) AS s2a,
            coalesce(sum(CASE WHEN g2 = 'view'
                          THEN CAST(q AS HUGEINT) * q END), 0) AS s2b
          FROM base)
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 THEN floor(CAST(s1a AS DOUBLE)
                 / (n_a * 100.0) * 1e6) / 1e6 END AS mean_a_q6,
               CASE WHEN n_b > 0 THEN floor(CAST(s1b AS DOUBLE)
                 / (n_b * 100.0) * 1e6) / 1e6 END AS mean_b_q6,
               CASE WHEN n_a >= 2 AND n_b >= 2 AND
                 (CAST(n_a * s2a - s1a * s1a AS DOUBLE) / n_a
                  + CAST(n_b * s2b - s1b * s1b AS DOUBLE) / n_b)
                 / (n_a + n_b - 2) > 0 THEN
                 floor((CAST(s1a AS DOUBLE) / n_a
                        - CAST(s1b AS DOUBLE) / n_b)
                  / sqrt((CAST(n_a * s2a - s1a * s1a AS DOUBLE) / n_a
                          + CAST(n_b * s2b - s1b * s1b AS DOUBLE) / n_b)
                         / (n_a + n_b - 2)) * 1e4) / 1e4
               END AS cohen_d_q4,
               CASE WHEN n_a >= 2 AND n_b >= 2 AND
                 (CAST(n_a * s2a - s1a * s1a AS DOUBLE) / n_a
                  + CAST(n_b * s2b - s1b * s1b AS DOUBLE) / n_b)
                 / (n_a + n_b - 2) > 0 THEN
                 floor((CAST(s1a AS DOUBLE) / n_a
                        - CAST(s1b AS DOUBLE) / n_b)
                  / sqrt((CAST(n_a * s2a - s1a * s1a AS DOUBLE) / n_a
                          + CAST(n_b * s2b - s1b * s1b AS DOUBLE) / n_b)
                         / (n_a + n_b - 2))
                  * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)) * 1e4) / 1e4
               END AS hedges_g_q4
        FROM agg
    """)
def q_cohen_d_effect(spark, sf):
    """Cohen's d / Hedges' g standardized effect size of purchase vs
    view event values — the magnitude companion of welch_t. Exact
    1e-2-lattice integer moments; the double formula's op order is
    mirrored verbatim in the oracle (same ints -> same IEEE -> same
    floor)."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        cohen_d_effect,
    )

    ev = _t(spark, sf, "events")
    return cohen_d_effect(ev, "event_type", "value", "purchase", "view")


@query(oracle=r"""
        WITH base AS (
          SELECT (event_type = 'purchase') AS in_b, event_id AS id,
                 CAST(floor(value * 1000000) AS BIGINT) AS q
          FROM events
          WHERE event_type IN ('purchase', 'view')
            AND value IS NOT NULL AND NOT isnan(value)),
        r AS (
          SELECT in_b, q,
                 CAST(row_number() OVER (
                   PARTITION BY in_b ORDER BY q, id) AS BIGINT) AS rank
          FROM base),
        counts AS (
          SELECT CAST(coalesce(sum(CASE WHEN NOT in_b THEN 1 END), 0)
                      AS BIGINT) AS n_a,
                 CAST(coalesce(sum(CASE WHEN in_b THEN 1 END), 0)
                      AS BIGINT) AS n_b
          FROM base),
        small AS (
          SELECT rank AS j, q AS q_small, least(n_a, n_b) AS m,
                 greatest(n_a, n_b) AS n_large
          FROM r, counts
          WHERE CASE WHEN n_a <= n_b THEN NOT in_b ELSE in_b END),
        big AS (
          SELECT rank AS target, q AS q_large
          FROM r, counts
          WHERE CASE WHEN n_a <= n_b THEN in_b ELSE NOT in_b END),
        coupled AS (
          SELECT q_small, q_large FROM (
            SELECT q_small,
                   (CAST(j AS HUGEINT) * n_large + m - 1) // m AS target
            FROM small) s
          JOIN big USING (target)),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS m_points,
                 coalesce(sum(CAST(abs(q_small - q_large) AS HUGEINT)),
                          0) AS sum_abs
          FROM coupled)
        SELECT n_a, n_b, m_points,
               CASE WHEN m_points > 0 THEN
                 CAST(sum_abs // m_points AS BIGINT) / 1e6
               END AS w1_q6
        FROM agg, counts
    """)
def q_wasserstein_drift(spark, sf):
    """Empirical Wasserstein-1 between purchase and view value
    distributions — earth-mover drift in value units (KS gives the
    sup gap, MMD a kernel score, W1 the transport cost). Exact micro
    integer |diff| sums over the quantile coupling."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        wasserstein_1d,
    )

    ev = _t(spark, sf, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    base = ev.withColumn("in_b", F.col("event_type") == "purchase")
    return wasserstein_1d(base, "in_b", "value", "event_id")


# DiD: four exact micro cells; treated coalesced to FALSE on NULL
# user ids (matching the operator); means combined in the mirrored
# double op order
@query(oracle=r"""
        WITH base AS (
          SELECT coalesce(user_id % 2 = 0, FALSE) AS t,
                 CAST(epoch_ns(ts) AS BIGINT) AS tn,
                 CAST(floor(value * 1000000) AS BIGINT) AS r
          FROM events
          WHERE value IS NOT NULL AND NOT isnan(value)),
        bounds AS (SELECT min(tn) AS lo, max(tn) AS hi FROM base),
        flagged AS (
          SELECT t, coalesce(tn >= lo + (hi - lo) // 2, FALSE) AS p, r
          FROM base, bounds),
        agg AS (
          SELECT
            CAST(coalesce(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END),
                          0) AS BIGINT) AS n_t_pre,
            CAST(coalesce(sum(CASE WHEN t AND p THEN 1 ELSE 0 END),
                          0) AS BIGINT) AS n_t_post,
            CAST(coalesce(sum(CASE WHEN NOT t AND NOT p THEN 1
                               ELSE 0 END), 0) AS BIGINT) AS n_c_pre,
            CAST(coalesce(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END),
                          0) AS BIGINT) AS n_c_post,
            coalesce(sum(CASE WHEN t AND NOT p
                          THEN CAST(r AS HUGEINT) END), 0) AS s_t_pre,
            coalesce(sum(CASE WHEN t AND p
                          THEN CAST(r AS HUGEINT) END), 0) AS s_t_post,
            coalesce(sum(CASE WHEN NOT t AND NOT p
                          THEN CAST(r AS HUGEINT) END), 0) AS s_c_pre,
            coalesce(sum(CASE WHEN NOT t AND p
                          THEN CAST(r AS HUGEINT) END), 0) AS s_c_post
          FROM flagged)
        SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
               CASE WHEN n_t_pre > 0 THEN
                 floor(CAST(s_t_pre AS DOUBLE) / n_t_pre) / 1e6
               END AS mean_t_pre_q6,
               CASE WHEN n_t_post > 0 THEN
                 floor(CAST(s_t_post AS DOUBLE) / n_t_post) / 1e6
               END AS mean_t_post_q6,
               CASE WHEN n_c_pre > 0 THEN
                 floor(CAST(s_c_pre AS DOUBLE) / n_c_pre) / 1e6
               END AS mean_c_pre_q6,
               CASE WHEN n_c_post > 0 THEN
                 floor(CAST(s_c_post AS DOUBLE) / n_c_post) / 1e6
               END AS mean_c_post_q6,
               CASE WHEN n_t_pre > 0 AND n_t_post > 0 AND n_c_pre > 0
                     AND n_c_post > 0 THEN
                 floor((CAST(s_t_post AS DOUBLE) / n_t_post
                        - CAST(s_t_pre AS DOUBLE) / n_t_pre)
                       - (CAST(s_c_post AS DOUBLE) / n_c_post
                          - CAST(s_c_pre AS DOUBLE) / n_c_pre)) / 1e6
               END AS did_q6
        FROM agg
    """)
def q_did_value(spark, sf):
    """Difference-in-differences of event value: treated = even users,
    post = second half of the observed time range (cutoff = lo +
    (hi-lo) div 2 in exact nanos). Four exact micro cell sums, one
    mirrored double combination."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        did_estimator,
    )

    # NaN drops HERE too: the time bounds must see the same row set as
    # the oracle's NaN-filtered base (a NaN-value row holding min/max
    # ts would otherwise shift the cutoff)
    ev = _t(spark, sf, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    )
    flagged = ev.crossJoin(F.broadcast(bounds)).select(
        (F.col("user_id") % 2 == 0).alias("treated"),
        F.expr("ts >= lo + (hi - lo) div 2").alias("post"),
        "value",
    )
    return did_estimator(flagged, "treated", "post", "value")


# W1: quantile coupling at m = min(n) points, exact micro |diff|
# sums, one nonneg floor-div
@query(oracle=_bpe_bytelevel_oracle_sql(12, "train"))
def q_bpe_bytelevel_train(spark, sf):
    """Byte-level BPE training (GPT-2/tiktoken-class) on the raw
    corpus: GPT-2 pre-tokenize (lookahead-free two-pass, proven
    equivalent — see textanalysis.gpt2_pretokens), UTF-8 bytes as
    hex-pair symbols, 12 greedy merge rounds. Bit-deterministic
    (integer counts, lexicographic hex ties); the oracle replays all
    rounds as an unrolled MATERIALIZED CTE chain over the identical
    pre-token vocab."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    docs = _t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return ta.bpe_bytelevel_train_merges(docs, n_merges=12)


@query(oracle=_bpe_bytelevel_oracle_sql(12, "encode"))
def q_bpe_bytelevel_encode(spark, sf):
    """Byte-level BPE corpus encode + per-source token economics +
    UTF-8 round-trip conservation audit: trains the 12-merge tokenizer,
    encodes via one vocab join-back, and reports (n_pretokens,
    n_tokens, n_bytes, n_roundtrip_docs, fertility, bytes/token) per
    source — the fertility re-run denominated in byte-level BPE tokens.
    Every doc must round-trip (n_roundtrip_docs == n_docs): byte
    conservation + per-token hex decode-back, exact integer sums,
    floor-div finals."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    docs = _t(spark, sf, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return ta.bpe_bytelevel_encode_report(
        docs, group_col="source", n_merges=12
    )


# T41 stream twin: the cell-level rollup of the same replay
@query(oracle=_bpe_bytelevel_oracle_sql(
        12, "fertility"
    ))
def q_t41_stream_bytebpe_fertility(spark, sf):
    """T41 — live token-economics monitor for the byte-BPE-denominated
    export: the per-source (n_docs, n_pretokens, n_tokens, n_bytes)
    cells are the associative streaming state (one row per source),
    fed by a stream-static join from the exploded token-cell stream to
    the BATCH-trained vocab artifact (the tokenizer is a static
    artifact; the monitor watches data flow through it), snapshot
    through the same pure-projection finale as the batch economics.
    Oracle: the cell-level rollup of the bpe_bytelevel_encode replay
    (identical sums, no per-doc roundtrip conjunction — that audit
    stays batch-side)."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    docs = _t(spark, sf, "documents")
    pieces = ta.bpe_bytelevel_pieces(docs, n_merges=12)
    stream = table_stream(spark, sf, "documents")
    cells = ta.bpe_bytelevel_fertility_cells(stream, pieces)
    snap = drain_to_memory(cells, "t41_bytebpe_cells").localCheckpoint(eager=True)
    return ta.bpe_bytelevel_fertility_finale(snap)


def _nndescent_oracle_sql(
    k: int = 6, rounds: int = 2, hops: int = 3, beam: int = 8,
    what: str = "recall",
    corpus_pred: str = "vec_id >= 20",
    panel_pred: str = "vec_id < 20",
    out_k: int = 6,
    delete_pred: str = "cand % 7 = 3",
    drift_threshold_micro: int = 50_000,
    dist_ratio_pct: int = 200,
) -> str:
    """Unrolled DuckDB replay of the NN-descent family: ring init,
    ``rounds`` NN-descent local-join rounds, ``hops`` beam-probe hops
    over the ``panel_pred`` probe panel — every step exact-integer
    (micro-quantized squared L2, ties by id), every re-referenced
    stage MATERIALIZED. ``what``: 'recall' emits q_ann_nndescent_
    recall's top-10s + recall fold; 'assign' emits the per-probe
    top-``out_k`` adjacency (src, dst, dist) that
    nn_descent_incremental_assign adopts for new vectors;
    'tombstone' emits the per-probe top-``out_k`` of the visited set
    with ``delete_pred`` candidates tombstoned out BEFORE the rank
    (traversal still routed through them — the filter sits after the
    hops); 'drift' emits nn_descent_drift_report's per-node occupancy
    + mean-distance table over base graph vs adopted assigns;
    'refresh' folds that table to the one-row refresh trigger."""
    dist = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}),"
        " pp -> (pp[1] - pp[2]) * (pp[1] - pp[2]))) AS BIGINT)"
    )
    ctes = [
        r"""nnqv AS MATERIALIZED (
              SELECT vec_id AS id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
              FROM embeddings
              WHERE embedding IS NOT NULL AND ("""
        + corpus_pred
        + r"""))""",
        r"""nnpv AS MATERIALIZED (
              SELECT vec_id AS qid,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(floor(x * 1000000) AS BIGINT)) AS pq
              FROM embeddings
              WHERE embedding IS NOT NULL AND ("""
        + panel_pred
        + r"""))""",
        r"""nncnt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nnqv)""",
        r"""nnr AS MATERIALIZED (
              SELECT id, q,
                     CAST(row_number() OVER (ORDER BY id) AS BIGINT)
                       AS rid
              FROM nnqv)""",
        f"""nng0 AS MATERIALIZED (
              SELECT a.id AS src, b.id AS dst,
                     {dist.format(a='a.q', b='b.q')} AS dist
              FROM (SELECT id, q, rid, nn,
                           unnest(generate_series(1, least({k}, nn - 1)))
                             AS j
                    FROM nnr CROSS JOIN nncnt) a
              JOIN nnr b ON b.rid = ((a.rid - 1 + a.j) % a.nn) + 1
              WHERE b.id <> a.id)""",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"""nnu{t} AS (
              SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM nng{t - 1}
                UNION ALL
                SELECT dst AS src, src AS dst FROM nng{t - 1})),
            nnc{t} AS (
              SELECT DISTINCT l.src AS src, rr.dst AS dst
              FROM nnu{t} l JOIN nnu{t} rr ON l.dst = rr.src
              WHERE l.src <> rr.dst),
            nns{t} AS (
              SELECT c.src, c.dst, {dist.format(a='a.q', b='b.q')} AS dist
              FROM nnc{t} c
              JOIN nnr a ON a.id = c.src
              JOIN nnr b ON b.id = c.dst),
            nng{t} AS MATERIALIZED (
              SELECT src, dst, dist FROM (
                SELECT src, dst, dist,
                       row_number() OVER (PARTITION BY src
                                          ORDER BY dist, dst) AS rk
                FROM (SELECT DISTINCT src, dst, dist FROM (
                        SELECT * FROM nng{t - 1}
                        UNION ALL SELECT * FROM nns{t})))
              WHERE rk <= {k})"""
        )
    ctes.append(
        f"""nnent AS (SELECT id, q FROM nnr ORDER BY id LIMIT 1),
            nnv0 AS MATERIALIZED (
              SELECT p.qid, e.id AS cand,
                     {dist.format(a='p.pq', b='e.q')} AS dist
              FROM nnpv p CROSS JOIN nnent e)"""
    )
    for h in range(1, hops + 1):
        ctes.append(
            f"""nnf{h} AS (
              SELECT qid, cand FROM (
                SELECT qid, cand,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY dist, cand) AS rk
                FROM nnv{h - 1})
              WHERE rk <= {beam}),
            nne{h} AS (
              SELECT f.qid, g.dst AS cand,
                     {dist.format(a='p.pq', b='b.q')} AS dist
              FROM nnf{h} f
              JOIN nng{rounds} g ON g.src = f.cand
              JOIN nnpv p ON p.qid = f.qid
              JOIN nnr b ON b.id = g.dst),
            nnv{h} AS MATERIALIZED (
              SELECT DISTINCT qid, cand, dist FROM (
                SELECT * FROM nnv{h - 1}
                UNION ALL SELECT * FROM nne{h}))"""
        )
    if what == "assign":
        final = f"""
        SELECT qid AS src, cand AS dst, dist FROM (
          SELECT qid, cand, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, cand) AS rk
          FROM nnv{hops})
        WHERE rk <= {out_k}"""
        return "WITH " + ",\n".join(ctes) + "\n" + final
    if what == "tombstone":
        final = f"""
        SELECT qid, cand, dist FROM (
          SELECT qid, cand, dist,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY dist, cand) AS rk
          FROM nnv{hops}
          WHERE NOT ({delete_pred}))
        WHERE rk <= {out_k}"""
        return "WITH " + ",\n".join(ctes) + "\n" + final
    if what in ("drift", "refresh"):
        ctes.append(
            f"""nnas AS MATERIALIZED (
              SELECT qid AS src, cand AS dst, dist FROM (
                SELECT qid, cand, dist,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY dist, cand) AS rk
                FROM nnv{hops})
              WHERE rk <= {out_k}),
            nnb AS (
              SELECT dst AS node, CAST(count(*) AS BIGINT) AS n_base,
                     sum(CAST(dist AS HUGEINT)) AS sb
              FROM nng{rounds} GROUP BY dst),
            nna AS (
              SELECT dst AS node, CAST(count(*) AS BIGINT) AS n_new,
                     sum(CAST(dist AS HUGEINT)) AS sn
              FROM nnas GROUP BY dst),
            nnocc AS (
              SELECT coalesce(b.node, a.node) AS node,
                     coalesce(n_base, 0) AS n_base,
                     coalesce(n_new, 0) AS n_new, sb, sn
              FROM nnb b FULL OUTER JOIN nna a ON b.node = a.node),
            nntot AS (
              SELECT CAST(sum(n_base) AS BIGINT) AS tb,
                     CAST(sum(n_new) AS BIGINT) AS tn
              FROM nnocc),
            nndrift AS (
              SELECT node, n_base, n_new,
                     CASE WHEN tb > 0 THEN
                       CAST((CAST(n_base AS HUGEINT) * 1000000) // tb
                            AS BIGINT) / 1e6 END AS share_base,
                     CASE WHEN tn > 0 THEN
                       CAST((CAST(n_new AS HUGEINT) * 1000000) // tn
                            AS BIGINT) / 1e6 END AS share_new,
                     (CASE WHEN tn > 0 THEN
                        CAST((CAST(n_new AS HUGEINT) * 1000000) // tn
                             AS BIGINT) / 1e6 END)
                     - (CASE WHEN tb > 0 THEN
                          CAST((CAST(n_base AS HUGEINT) * 1000000) // tb
                               AS BIGINT) / 1e6 END) AS drift,
                     CASE WHEN n_base > 0 THEN
                       CAST(sb // n_base AS BIGINT) END
                       AS mean_dist_base,
                     CASE WHEN n_new > 0 THEN
                       CAST(sn // n_new AS BIGINT) END AS mean_dist_new
              FROM nnocc CROSS JOIN nntot)"""
        )
        if what == "drift":
            final = """
        SELECT node, n_base, n_new, share_base, share_new, drift,
               mean_dist_base, mean_dist_new
        FROM nndrift"""
            return "WITH " + ",\n".join(ctes) + "\n" + final
        final = f"""
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(n_base) AS BIGINT) AS n_base_edges,
               CAST(sum(n_new) AS BIGINT) AS n_new_edges,
               max(abs(drift)) AS max_abs_drift,
               CASE WHEN sum(n_base) > 0 THEN
                 CAST(sum(CAST(mean_dist_base AS HUGEINT) * n_base)
                      // sum(n_base) AS BIGINT) END AS mean_dist_base,
               CASE WHEN sum(n_new) > 0 THEN
                 CAST(sum(CAST(mean_dist_new AS HUGEINT) * n_new)
                      // sum(n_new) AS BIGINT) END AS mean_dist_new,
               coalesce(
                 max(abs(drift)) > {drift_threshold_micro} / 1e6
                 OR (sum(n_base) > 0 AND sum(n_new) > 0
                     AND sum(CAST(mean_dist_new AS HUGEINT) * n_new)
                         * sum(n_base) * 100
                       > {dist_ratio_pct}
                         * sum(CAST(mean_dist_base AS HUGEINT) * n_base)
                         * sum(n_new)), false) AS refresh_due
        FROM nndrift"""
        return "WITH " + ",\n".join(ctes) + "\n" + final
    ctes.append(
        f"""nnans AS (
              SELECT qid, cand FROM (
                SELECT qid, cand,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY dist, cand) AS rk
                FROM nnv{hops})
              WHERE rk <= 10),
            nnex AS MATERIALIZED (
              SELECT qid, cand FROM (
                SELECT p.qid, c.id AS cand,
                       row_number() OVER (PARTITION BY p.qid
                         ORDER BY {dist.format(a='p.pq', b='c.q')}, c.id)
                         AS rk
                FROM nnpv p CROSS JOIN nnr c)
              WHERE rk <= 10),
            nnper AS (
              SELECT p.qid, coalesce(v.nv, 0) AS nv,
                     coalesce(h2.hit, 0) AS hit, coalesce(d.den, 0) AS den
              FROM nnpv p
              LEFT JOIN (SELECT qid, CAST(count(*) AS BIGINT) AS nv
                         FROM nnv{hops} GROUP BY qid) v USING (qid)
              LEFT JOIN (SELECT a.qid, CAST(count(*) AS BIGINT) AS hit
                         FROM nnans a JOIN nnex e
                           ON a.qid = e.qid AND a.cand = e.cand
                         GROUP BY a.qid) h2 USING (qid)
              LEFT JOIN (SELECT qid, CAST(count(*) AS BIGINT) AS den
                         FROM nnex GROUP BY qid) d USING (qid)),
            nnagg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_queries,
                     CAST(coalesce(sum(nv), 0) AS BIGINT) AS snv,
                     CAST(coalesce(sum(hit), 0) AS BIGINT) AS shit,
                     CAST(coalesce(sum(den), 0) AS BIGINT) AS sden
              FROM nnper)"""
    )
    final = """
        SELECT n_queries,
               CASE WHEN n_queries > 0 THEN
                 CAST((CAST(snv AS HUGEINT) * 1000000) // n_queries
                      AS BIGINT) / 1e6
               END AS mean_visited_q6,
               CASE WHEN sden > 0 THEN
                 CAST((CAST(shit AS HUGEINT) * 1000000) // sden
                      AS BIGINT) / 1e6
               END AS recall_at_10_q6
        FROM nnagg"""
    return "WITH " + ",\n".join(ctes) + "\n" + final


def _export_bytebpe_oracle_sql(n_merges: int = 8) -> str:
    """DuckDB replay of the byte-BPE-denominated training export:
    the training_export_report prelude verbatim (ascii-project, dedup
    row_number, word floor, md5 split), then GPT-2 pre-tokens of the
    projected text, ``n_merges`` merge rounds trained on the TRAIN
    split's pre-token vocab, the learned rewrites replayed over the
    FULL corpus vocab, per-doc piece sums, and the identical
    ceil-division packing totals."""
    ctes = [
        r"""d0 AS MATERIALIZED (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''),
                                    '[^\x20-\x7e]', '', 'g') AS t
              FROM documents)""",
        r"""tok AS MATERIALIZED (
              SELECT doc_id, t,
                     CASE WHEN length(trim(t)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(t), '\s+')) END
                       AS ws
              FROM d0)""",
        r"""dd AS MATERIALIZED (
              SELECT doc_id, t, ws FROM (
                SELECT doc_id, t, ws,
                       row_number() OVER (
                         PARTITION BY
                           lower(regexp_replace(trim(t), '\s+', ' ', 'g'))
                         ORDER BY doc_id) AS rn
                FROM tok) WHERE rn = 1)""",
        r"""q AS MATERIALIZED (SELECT * FROM dd WHERE ws >= 5)""",
        r"""sp AS MATERIALIZED (
              SELECT doc_id, t, ws,
                     CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                               < '1a'
                          THEN 'holdout' ELSE 'train' END AS split
              FROM q)""",
        f"""bpt AS MATERIALIZED (
              SELECT doc_id, split, {_GPT2_TOKS_SQL} AS toks
              FROM (SELECT doc_id, split,
                           regexp_extract_all(t,
                             '{_GPT2_PRETOKEN_SQL_RE}', 0) AS tk
                    FROM sp))""",
        r"""bstream AS MATERIALIZED (
              SELECT doc_id, split, unnest(toks) AS w FROM bpt)""",
        r"""bv0 AS MATERIALIZED (
              SELECT w, CAST(count(*) AS BIGINT) AS freq,
                     regexp_replace(hex(encode(w)), '(..)', ' \1 ', 'g')
                       AS s
              FROM bstream WHERE split = 'train' GROUP BY w)""",
    ]
    for k in range(1, n_merges + 1):
        ctes.append(
            f"""bbp{k} AS (
              SELECT ws[i] AS l, ws[i + 1] AS r,
                     CAST(sum(freq) AS BIGINT) AS n
              FROM (SELECT freq, ws,
                           unnest(generate_series(1, len(ws) - 1)) AS i
                    FROM (SELECT freq, string_split(trim(s), '  ') AS ws
                          FROM bv{k - 1})
                    WHERE len(ws) > 1)
              GROUP BY l, r),
            bbm{k} AS MATERIALIZED (
              SELECT l, r, n FROM bbp{k} ORDER BY n DESC, l, r LIMIT 1),
            bv{k} AS MATERIALIZED (
              SELECT freq,
                     replace(s,
                       ' ' || coalesce((SELECT l FROM bbm{k}), chr(1))
                           || '  '
                           || coalesce((SELECT r FROM bbm{k}), chr(1))
                           || ' ',
                       ' ' || coalesce((SELECT l FROM bbm{k}), chr(1))
                           || coalesce((SELECT r FROM bbm{k}), chr(1))
                           || ' ') AS s
              FROM bv{k - 1})"""
        )
    fv = [
        r"""fv0 AS MATERIALIZED (
              SELECT w,
                     regexp_replace(hex(encode(w)), '(..)', ' \1 ', 'g')
                       AS s
              FROM (SELECT DISTINCT w FROM bstream))"""
    ]
    for k in range(1, n_merges + 1):
        fv.append(
            f"""fv{k} AS MATERIALIZED (
              SELECT w,
                     replace(s,
                       ' ' || coalesce((SELECT l FROM bbm{k}), chr(1))
                           || '  '
                           || coalesce((SELECT r FROM bbm{k}), chr(1))
                           || ' ',
                       ' ' || coalesce((SELECT l FROM bbm{k}), chr(1))
                           || coalesce((SELECT r FROM bbm{k}), chr(1))
                           || ' ') AS s
              FROM fv{k - 1})"""
        )
    ctes.extend(fv)
    ctes.append(
        f"""bseg AS MATERIALIZED (
              SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT)
                       AS np
              FROM fv{n_merges}),
            bper AS MATERIALIZED (
              SELECT s.doc_id, any_value(s.split) AS split,
                     CAST(sum(np) AS BIGINT) AS lm
              FROM bstream s JOIN bseg USING (w)
              GROUP BY s.doc_id),
            pkdoc AS (
              SELECT split, lm,
                     CAST((ascii(substr(hh, 1, 1)) * 16
                           + ascii(substr(hh, 2, 1))) % 4 AS INT) AS shard
              FROM (SELECT split, lm,
                           md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS hh
                    FROM bper WHERE lm > 0)),
            pksh AS (
              SELECT split, shard, count(*) AS d,
                     CAST(sum(lm) AS BIGINT) AS t
              FROM pkdoc GROUP BY split, shard),
            pk AS (
              SELECT split, CAST(sum(d) AS BIGINT) AS n_docs,
                     CAST(sum(t) AS BIGINT) AS n_tokens,
                     CAST(sum((t + 255) // 256) AS BIGINT) AS n_seqs
              FROM pksh GROUP BY split)"""
    )
    final = r"""
        SELECT 'input' AS stage, 'all' AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(coalesce(sum(ws), 0) AS BIGINT) AS n_tokens,
               CAST(0 AS BIGINT) AS n_seqs
        FROM tok
        UNION ALL
        SELECT 'exact_dedup', 'all', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(ws), 0) AS BIGINT), CAST(0 AS BIGINT)
        FROM dd
        UNION ALL
        SELECT 'quality_floor', 'all', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(ws), 0) AS BIGINT), CAST(0 AS BIGINT)
        FROM q
        UNION ALL
        SELECT 'split', split, CAST(count(*) AS BIGINT),
               CAST(sum(ws) AS BIGINT), CAST(0 AS BIGINT)
        FROM sp GROUP BY split
        UNION ALL
        SELECT 'encoded', split, CAST(count(*) AS BIGINT),
               CAST(sum(lm) AS BIGINT), CAST(0 AS BIGINT)
        FROM bper GROUP BY split
        UNION ALL
        SELECT 'packed', split, n_docs, n_tokens, n_seqs FROM pk"""
    return "WITH " + ",\n".join(ctes) + "\n" + final


@query(oracle=_export_bytebpe_oracle_sql(8))
def q_training_export_bytebpe(spark, sf):
    """The training-export composition with its token budget
    denominated in BYTE-LEVEL BPE tokens (the tokens real pretraining
    budgets plan against): identical upstream stages to
    training_export_report (ascii-project -> exact dedup -> word floor
    -> md5 leakage split), then 8 byte-BPE merges trained on the TRAIN
    split only, the learned rewrites replayed over the full corpus
    vocab (byte fallback: holdout pre-tokens unseen in training still
    segment — OOV impossible), budget-256 packing on the byte-BPE
    counts. Token conservation encode==pack holds by the same
    construction."""
    from pdf_to_vectordb_etl_spark.plans.export import export_training_data

    docs = _t(spark, sf, "documents")
    report, _, _ = export_training_data(
        docs, tokenizer="bytebpe", n_merges=8
    )
    return report.select("stage", "split", "n_docs", "n_tokens", "n_seqs")


# greedy token-budget fill: exact micro-int quality ORDER, prefix
# sum over the per-source aggregate
@query(oracle=r"""
        WITH per AS (
          SELECT coalesce(source, '') AS source,
                 CAST(sum(CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END)
                      AS HUGEINT) * 1000000 // count(*) AS qm,
                 CAST(coalesce(sum(
                   CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                        ELSE len(string_split_regex(
                               trim(coalesce(text, '')), '\s+')) END),
                   0) AS BIGINT) AS n_tokens
          FROM documents GROUP BY coalesce(source, '')),
        a AS (
          SELECT source, qm, n_tokens,
                 coalesce(sum(n_tokens) OVER (
                   ORDER BY qm DESC, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS prev
          FROM per)
        SELECT source, CAST(qm AS BIGINT) / 1e6 AS quality_q6, n_tokens,
               CAST(greatest(0, least(n_tokens, 200000 - prev))
                    AS BIGINT) AS alloc_tokens,
               CASE WHEN n_tokens > 0 THEN
                 CAST((CAST(greatest(0, least(n_tokens, 200000 - prev))
                            AS HUGEINT) * 1000000)
                      // n_tokens AS BIGINT) / 1e6
               END AS alloc_frac_q6
        FROM a
    """)
def q_token_budget_allocation(spark, sf):
    """Greedy quality-ranked token-budget fill over sources — the
    actuation step after source_health_report: quality = length-gate
    pass rate (exact micro integer), tokens = whitespace counts,
    budget 200k; full tokens by quality rank, partial at the boundary
    source, zero after (fractional-knapsack greedy, optimal). One
    per-source agg + one bounded global prefix window."""
    from pdf_to_vectordb_etl_spark.operators import curation
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    docs = _t(spark, sf, "documents")
    cells = curation.token_budget_cells(
        docs,
        pass_cond=F.col("n_chars") >= 150,
        tokens=ta.token_count(F.coalesce(F.col("text"), F.lit(""))),
    )
    return curation.token_budget_from_cells(cells, budget=200_000)


@query(oracle_of="token_budget_allocation")
def q_t40_stream_token_budget(spark, sf):
    """T40 — live mixture-budget monitor: the per-source (n_docs,
    n_pass, n_tokens) cells are the associative streaming state (one
    row per source), snapshot through the IDENTICAL
    token_budget_from_cells finale as the batch path; the batch SQL is
    the parity oracle."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        token_budget_from_cells,
    )
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = (
        table_stream(spark, sf, "documents")
        .groupBy(F.coalesce(F.col("source"), F.lit("")).alias("source"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(
                F.sum((F.col("n_chars") >= 150).cast("int")), F.lit(0)
            )
            .cast("long")
            .alias("n_pass"),
            F.coalesce(
                F.sum(
                    ta.token_count(F.coalesce(F.col("text"), F.lit("")))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )
    snap = drain_to_memory(stream, "t40_budget_cells").localCheckpoint(eager=True)
    return token_budget_from_cells(snap, budget=200_000)


# temperature sweep: libm-pow-free weights, ordered-fold totals
@query(oracle=r"""
        WITH per AS (
          SELECT coalesce(source, '') AS grp,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1),
        sweep AS (
          SELECT grp, n_docs, e.t AS t, e.w AS w
          FROM (SELECT grp, n_docs,
                       unnest([
                         {'t': '0.5',
                          'w': CAST(n_docs AS DOUBLE)
                               * CAST(n_docs AS DOUBLE)},
                         {'t': '1.0', 'w': CAST(n_docs AS DOUBLE)},
                         {'t': '2.0',
                          'w': sqrt(CAST(n_docs AS DOUBLE))}]) AS e
                FROM per)),
        totals AS (
          SELECT t,
                 list_reduce(
                   list_transform(
                     list_sort(list({'grp': grp, 'w': w})),
                     s -> s.w),
                   (a, b) -> a + b) AS total
          FROM sweep GROUP BY t)
        SELECT t, grp AS source, n_docs,
               floor(w / total * 1000000.0) / 1e6 AS share_q6
        FROM sweep JOIN totals USING (t)
    """)
def q_mixture_temperature_sweep(spark, sf):
    """Sampling-temperature tuning table over sources: shares under
    n^(1/T) for T in {0.5, 1, 2} — exponents chosen libm-pow-free
    (square / identity / sqrt), per-T totals as ordered folds over the
    group-sorted bounded list so the IEEE sum sequence is identical in
    both engines. See curation.mixture_temperature_sweep."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = _t(spark, sf, "documents")
    return curation.mixture_temperature_sweep(docs, by="source")


# padding-waste readout over the pinned export replay's packed rows
@query(oracle=(
        "SELECT split, n_docs, n_tokens, n_seqs,\n"
        "       n_seqs * 256 - n_tokens AS waste_tokens,\n"
        "       CASE WHEN n_seqs > 0 THEN\n"
        "         CAST((CAST(n_tokens AS HUGEINT) * 1000000)\n"
        "              // (n_seqs * 256) AS BIGINT) / 1e6\n"
        "       END AS utilization_q6\n"
        "FROM (" + _TRAINING_EXPORT_REPORT_ORACLE_SQL + ")\n"
        "WHERE stage = 'packed'"
    ))
def q_packing_efficiency(spark, sf):
    """Padding-waste readout of the training export's sequence
    packing: per split, sequences cut, tokens carried, wasted pad
    slots (n_seqs * budget - tokens) and utilization — the number that
    prices a packing strategy at 100 TB (every wasted slot is paid
    GPU time). Pure derivative of the pinned export report's 'packed'
    stage; the oracle wraps that report's SQL body verbatim."""
    rep = q_training_export_report(spark, sf).filter("stage = 'packed'")
    return rep.selectExpr(
        "split",
        "n_docs",
        "n_tokens",
        "n_seqs",
        "n_seqs * 256 - n_tokens AS waste_tokens",
        "CASE WHEN n_seqs > 0 THEN (CAST(n_tokens AS DECIMAL(38,0))"
        " * 1000000 div (n_seqs * 256)) / 1e6 END AS utilization_q6",
    )


# one-row dataset card: the pii_report oracle body rides along
# verbatim as a subquery CTE (the source_health composition
# precedent — nested WITH inside a parenthesized body is fine)
@query(oracle=(
        r"""
        WITH base AS (
          SELECT coalesce(text, '') AS t, text AS rawt, lang, source,
                 n_chars
          FROM documents),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(coalesce(sum(CASE WHEN rawt IS NULL THEN 1
                                   ELSE 0 END), 0) AS BIGINT)
                   AS n_null_text,
                 CAST(coalesce(sum(strlen(t)), 0) AS BIGINT) AS n_bytes,
                 CAST(coalesce(sum(
                   CASE WHEN length(trim(t)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(t), '\s+')) END),
                   0) AS BIGINT) AS n_ws_tokens,
                 CAST(count(DISTINCT coalesce(lang, '')) AS BIGINT)
                   AS n_langs,
                 CAST(count(DISTINCT coalesce(source, '')) AS BIGINT)
                   AS n_sources,
                 CAST(count(DISTINCT lower(regexp_replace(trim(t),
                   '\s+', ' ', 'g'))) AS BIGINT) AS nd,
                 CAST(coalesce(sum(CASE WHEN n_chars >= 150 THEN 1
                                   ELSE 0 END), 0) AS BIGINT) AS nq
          FROM base),
        toplang AS (
          SELECT coalesce(lang, '') AS top_lang,
                 CAST(count(*) AS BIGINT) AS topn
          FROM documents GROUP BY 1
          ORDER BY topn DESC, top_lang LIMIT 1),
        pii AS (
          SELECT CAST(coalesce(sum(n_docs_with_pii), 0) AS BIGINT)
                   AS n_pii_docs
          FROM ("""
        + _PII_REPORT_ORACLE_SQL
        + r"""))
        SELECT n_docs, n_null_text, n_bytes, n_ws_tokens, n_langs,
               n_sources, top_lang,
               CASE WHEN n_docs > 0 THEN
                 CAST((CAST(topn AS HUGEINT) * 1000000) // n_docs
                      AS BIGINT) / 1e6 END AS top_lang_share_q6,
               CASE WHEN n_docs > 0 THEN
                 CAST((CAST(n_docs - nd AS HUGEINT) * 1000000) // n_docs
                      AS BIGINT) / 1e6 END AS dup_doc_rate_q6,
               CASE WHEN n_docs > 0 THEN
                 CAST((CAST(n_pii_docs AS HUGEINT) * 1000000) // n_docs
                      AS BIGINT) / 1e6 END AS pii_doc_rate_q6,
               CASE WHEN n_docs > 0 THEN
                 CAST((CAST(nq AS HUGEINT) * 1000000) // n_docs
                      AS BIGINT) / 1e6 END AS quality_rate_q6
        FROM tot, toplang, pii
    """
    ))
def q_corpus_datasheet(spark, sf):
    """One-row dataset card (Gebru et al. 2021 'Datasheets for
    Datasets', public) — the summary a data consumer reads before
    anything else: volume (docs/bytes/whitespace tokens), integrity
    (NULL-text count), composition (language/source cardinality, top
    language + share), exact-duplicate rate (the dedup_exact
    normalization), PII document rate (composes the pinned pii_report
    — its oracle body rides along verbatim as a subquery CTE), and the
    length-gate quality rate (the fairness_report convention). All
    rates are exact micro floor-divisions; two corpus aggregates + one
    5-row top-lang cut + the PII rollup."""
    docs = _t(spark, sf, "documents")
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    pii = q_pii_report(spark, sf).agg(
        F.coalesce(F.sum("n_docs_with_pii"), F.lit(0))
        .cast("long")
        .alias("n_pii_docs")
    )
    t = F.coalesce(F.col("text"), F.lit(""))
    norm = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    base = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.col("text").isNull().cast("int")), F.lit(0))
        .cast("long")
        .alias("n_null_text"),
        F.coalesce(F.sum(F.octet_length(t)), F.lit(0))
        .cast("long")
        .alias("n_bytes"),
        F.coalesce(F.sum(ta.token_count(t)), F.lit(0))
        .cast("long")
        .alias("n_ws_tokens"),
        F.countDistinct(F.coalesce(F.col("lang"), F.lit("")))
        .cast("long")
        .alias("n_langs"),
        F.countDistinct(F.coalesce(F.col("source"), F.lit("")))
        .cast("long")
        .alias("n_sources"),
        F.countDistinct(norm).cast("long").alias("_nd"),
        F.coalesce(
            F.sum((F.col("n_chars") >= 150).cast("int")), F.lit(0)
        )
        .cast("long")
        .alias("_nq"),
    )
    top = (
        docs.groupBy(F.coalesce(F.col("lang"), F.lit("")).alias("lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("_topn"))
        .orderBy(F.desc("_topn"), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"), "_topn")
    )
    return (
        base.crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(pii))
        .selectExpr(
            "n_docs",
            "n_null_text",
            "n_bytes",
            "n_ws_tokens",
            "n_langs",
            "n_sources",
            "top_lang",
            "CASE WHEN n_docs > 0 THEN (CAST(_topn AS DECIMAL(38,0))"
            " * 1000000 div n_docs) / 1e6 END AS top_lang_share_q6",
            "CASE WHEN n_docs > 0 THEN"
            " (CAST(n_docs - _nd AS DECIMAL(38,0))"
            " * 1000000 div n_docs) / 1e6 END AS dup_doc_rate_q6",
            "CASE WHEN n_docs > 0 THEN (CAST(n_pii_docs AS DECIMAL(38,0))"
            " * 1000000 div n_docs) / 1e6 END AS pii_doc_rate_q6",
            "CASE WHEN n_docs > 0 THEN (CAST(_nq AS DECIMAL(38,0))"
            " * 1000000 div n_docs) / 1e6 END AS quality_rate_q6",
        )
    )


@query(oracle=_nndescent_oracle_sql(12, 8, 5, 12))
def q_ann_nndescent_recall(spark, sf):
    """Graph-served ANN end-to-end: NN-descent kNN-graph build (Dong
    2011; deterministic ring init, 8 local-join rounds — edge recall
    vs the true kNN graph ~0.88 on the fixture — exact integer micro
    L2, per-node top-12) + HNSW-style beam probe (entry = min id,
    5 hops, beam 12) over a 20-probe panel, scored as recall@10
    against exact brute force plus the mean candidates-touched cost
    metric; at matched candidates it beats IVF (0.72 vs 0.67 at
    n_probe=8's ~240 candidates on the sf0.001 fixture, pinned).
    The whole pipeline — build rounds, beam hops, both top-10s, the
    recall fold — is bit-deterministic and replays unrolled in DuckDB;
    hash-verified, not merely recall-checked."""
    return _nndescent_recall_frame(spark, sf, live_only=False)


# refresh rebuild = the full NN-descent recall replay parameterized
# on the live (tombstones-dropped) corpus predicate
@query(oracle=_nndescent_oracle_sql(
        12, 8, 5, 12,
        corpus_pred="vec_id >= 20 AND NOT (vec_id % 7 = 3)",
    ))
def q_ann_refresh_rebuild(spark, sf):
    """Execute the refresh :func:`nn_descent_refresh_trigger` fires:
    a full RE-DESCENT over the LIVE corpus only (the vec_id % 7 = 3
    tombstones dropped for real — ring init, build rounds and beam
    serving all run on the compacted point set), scored with the same
    recall@10-vs-exact + mean-visited readout as the base build so the
    before/after pair quantifies what the rebuild bought. This is the
    graph twin of :func:`topk.ivf_compact_rebuild` and completes the
    drift→trigger→rebuild lifecycle the r9 round opened. Identical
    bit-deterministic pipeline, hash-verified against the unrolled
    DuckDB replay parameterized on the live predicate."""
    return _nndescent_recall_frame(spark, sf, live_only=True)


def _nndescent_recall_frame(spark, sf, live_only: bool):
    from pdf_to_vectordb_etl_spark.operators.topk import (
        _beam_probe_fast_arrays,
        _sq_l2_micro,
        _topk_per_qid,
        nn_descent_beam_probe,
        nn_descent_graph,
    )
    from pdf_to_vectordb_etl_spark.operators.valuation import (
        _quantize_micro,
    )
    from pyspark.sql import Window

    emb = _t(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    probes = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    if live_only:
        corpus = corpus.filter(~(F.col("vec_id") % 7 == 3))
    g = nn_descent_graph(corpus, k=12, rounds=8)
    # bounded driver fast path (the beam-probe/assign contract): the
    # whole serving eval — beam probe, exact brute-force top-10,
    # per-probe hit/visited counts and the exact integer q6 finals —
    # runs over the already-collected micro panels; only the 1-row
    # report enters Spark. Bit-identical: the same integer micro-L2,
    # the same (dist, cand) tie order in both top-10s, Python integer
    # floor-division for the q6 grid. Distributed fallback unchanged
    # below (exercised at gate time via SPARK_GRAFT_PLACEMENT=distributed).
    res = _beam_probe_fast_arrays(
        g, corpus, probes, 5, 12, "embedding", "vec_id",
        16_000, 20_000, return_panels=True,
    )
    if res is not None:
        import numpy as np

        (vq, vc, vd), (c_ids, c_mat, p_ids, p_mat) = res
        nq, n = len(p_ids), len(c_ids)
        snv = len(vq)
        shit = sden = 0
        if nq and n:
            # answers: top-10 of the visited set per probe
            keep = _topk_per_qid(vq, vc, vd, 10)
            a_keys = (
                np.searchsorted(p_ids, vq[keep]) * np.int64(n)
                + np.searchsorted(c_ids, vc[keep])
            )
            # exact: brute-force top-10 per probe, ties by corpus id
            # (index order == id order), in probe blocks. Same exact
            # float64-GEMM argument as _nn_descent_driver: every
            # product/partial sum is an integer < 2^53, so the Gram
            # path is exact regardless of BLAS order; otherwise the
            # chunked int64 per-pair path computes identical values.
            dim = c_mat.shape[1] if c_mat.ndim == 2 else 0
            max_abs = float(
                max(np.abs(c_mat).max(), np.abs(p_mat).max())
            )
            exact_f64 = 4.0 * max_abs * max_abs * max(dim, 1) < 2.0**53
            if exact_f64:
                cf = c_mat.astype(np.float64)
                pf = p_mat.astype(np.float64)
                cn = np.einsum("ij,ij->i", cf, cf)
                pn = np.einsum("ij,ij->i", pf, pf)
            e_keys = []
            for lo in range(0, nq, 256):
                hi = min(lo + 256, nq)
                if exact_f64:
                    dist = (
                        pn[lo:hi, None]
                        + cn[None, :]
                        - 2.0 * (pf[lo:hi] @ cf.T)
                    ).astype(np.int64)
                else:
                    dist = np.empty((hi - lo, n), dtype=np.int64)
                    step = max(1, 2_000_000 // max(hi - lo, 1))
                    for cl in range(0, n, step):
                        ch = min(cl + step, n)
                        d = (
                            p_mat[lo:hi, None, :]
                            - c_mat[None, cl:ch, :]
                        )
                        dist[:, cl:ch] = np.einsum(
                            "pij,pij->pi", d, d
                        )
                bq = np.repeat(
                    np.arange(lo, hi, dtype=np.int64), n
                )
                bc = np.tile(np.arange(n, dtype=np.int64), hi - lo)
                bkeep = _topk_per_qid(bq, bc, dist.ravel(), 10)
                e_keys.append(bq[bkeep] * np.int64(n) + bc[bkeep])
            e_keys = np.concatenate(e_keys)
            shit = int(len(np.intersect1d(a_keys, e_keys)))
            sden = int(len(e_keys))
        mv = (
            float((snv * 1_000_000 // nq) / 1e6) if nq > 0 else None
        )
        rc = (
            float((shit * 1_000_000 // sden) / 1e6)
            if sden > 0
            else None
        )
        return spark.createDataFrame(
            [(nq, mv, rc)],
            "n_queries bigint, mean_visited_q6 double,"
            " recall_at_10_q6 double",
        )
    visited = nn_descent_beam_probe(g, corpus, probes, hops=5, beam=12)
    wv = Window.partitionBy("qid").orderBy("dist", "cand")
    answers = (
        visited.withColumn("_rk", F.row_number().over(wv))
        .filter(F.col("_rk") <= 10)
        .select("qid", "cand")
    )
    pv = probes.select(
        F.col("vec_id").alias("qid"), _quantize_micro("embedding").alias("pq")
    )
    ex = corpus.select(
        F.col("vec_id").alias("cand"), _quantize_micro("embedding").alias("cq")
    ).crossJoin(F.broadcast(pv)).select(
        "qid", "cand", _sq_l2_micro("pq", "cq").alias("dist")
    )
    exact = (
        ex.withColumn("_rk", F.row_number().over(wv))
        .filter(F.col("_rk") <= 10)
        .select("qid", "cand")
    )
    per_q = (
        # distinct probe ids (ADVICE r10): the fast path's panel is
        # deduped, so the distributed side must count n_queries over
        # DISTINCT qids too or the two paths would disagree on a
        # duplicate-probe panel (unreachable on the fixtures — vec_id
        # is unique — but the bit-identical contract should hold by
        # construction)
        pv.select("qid")
        .dropDuplicates()
        .join(
            visited.groupBy("qid").agg(F.count("*").alias("_nv")),
            "qid",
            "left",
        )
        .join(
            answers.join(exact, ["qid", "cand"])
            .groupBy("qid")
            .agg(F.count("*").alias("_hit")),
            "qid",
            "left",
        )
        .join(
            exact.groupBy("qid").agg(F.count("*").alias("_den")),
            "qid",
            "left",
        )
        .select(
            "qid",
            F.coalesce("_nv", F.lit(0)).alias("nv"),
            F.coalesce("_hit", F.lit(0)).alias("hit"),
            F.coalesce("_den", F.lit(0)).alias("den"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum("nv").cast("long").alias("_snv"),
        F.sum("hit").cast("long").alias("_shit"),
        F.sum("den").cast("long").alias("_sden"),
    ).selectExpr(
        "n_queries",
        "CASE WHEN n_queries > 0 THEN"
        " (CAST(_snv AS DECIMAL(38,0)) * 1000000 div n_queries) / 1e6"
        " END AS mean_visited_q6",
        "CASE WHEN _sden > 0 THEN"
        " (CAST(_shit AS DECIMAL(38,0)) * 1000000 div _sden) / 1e6"
        " END AS recall_at_10_q6",
    )


@query(oracle=r"""
            WITH pv AS (
              SELECT vec_id AS qid,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> CAST(floor(x * 1000000) AS BIGINT)) AS pq
              FROM embeddings
              WHERE embedding IS NOT NULL AND vec_id < 20),
            cs AS (
              SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
              WHERE embedding IS NOT NULL AND vec_id >= 20),
            sc AS (
              SELECT cid, v,
                     CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                          THEN list_max(list_transform(v, x -> abs(x)))
                               / 127.0
                          ELSE 0.0 END AS scl
              FROM cs),
            enc AS (
              SELECT cid, v, scl, round(scl, 9) AS scale,
                     list_transform(v, x -> CASE WHEN scl > 0
                       THEN CAST(round(x / scl, 0) AS INT) ELSE 0 END)
                       AS codes
              FROM sc),
            rq AS (
              SELECT cid,
                     list_transform(codes,
                       c -> CAST(floor(CAST(c AS DOUBLE) * scale
                                       * 1000000.0) AS BIGINT)) AS rm,
                     list_transform(v,
                       x -> CAST(floor(x * 1000000) AS BIGINT)) AS xm,
                     CAST(floor(round(list_max(list_transform(
                       generate_series(1, len(v)),
                       i -> abs(v[i] - codes[i] * scl))), 6) * 1000000
                       + 0.5) AS BIGINT) AS errq
              FROM enc),
            dsq AS (
              SELECT p.qid, r.cid,
                     CAST(list_sum(list_transform(list_zip(p.pq, r.rm),
                       pp -> (pp[1] - pp[2]) * (pp[1] - pp[2])))
                       AS BIGINT) AS dist
              FROM pv p CROSS JOIN rq r),
            dex AS (
              SELECT p.qid, r.cid,
                     CAST(list_sum(list_transform(list_zip(p.pq, r.xm),
                       pp -> (pp[1] - pp[2]) * (pp[1] - pp[2])))
                       AS BIGINT) AS dist
              FROM pv p CROSS JOIN rq r),
            tsq AS (
              SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                  ORDER BY dist, cid) AS rk FROM dsq) WHERE rk <= 10),
            tex AS (
              SELECT qid, cid FROM (
                SELECT qid, cid, row_number() OVER (PARTITION BY qid
                  ORDER BY dist, cid) AS rk FROM dex) WHERE rk <= 10),
            hits AS (
              SELECT p.qid, coalesce(h.hit, 0) AS hit
              FROM pv p LEFT JOIN (
                SELECT a.qid, CAST(count(*) AS BIGINT) AS hit
                FROM tsq a JOIN tex e ON a.qid = e.qid AND a.cid = e.cid
                GROUP BY a.qid) h USING (qid)),
            rec AS (
              SELECT CAST(count(*) AS BIGINT) AS n_queries,
                     floor(CAST(sum(hit) AS DOUBLE) * 1000000
                           / (CAST(count(*) AS DOUBLE) * 10.0)) / 1e6
                       + 0.0 AS recall_at_10_q6
              FROM hits),
            me AS (
              SELECT floor(CAST(sum(errq) AS DOUBLE) / count(*)) / 1e6
                       + 0.0 AS mean_abs_err_q6
              FROM rq)
            SELECT n_queries, recall_at_10_q6, mean_abs_err_q6
            FROM rec CROSS JOIN me
        """)
def q_sq8_recall(spark, sf):
    """int8 storage-quality gate: recall@10 of search over int8-
    reconstructed vectors vs exact, plus mean reconstruction error —
    the go/no-go for the 4x fp32->int8 storage cut (FAISS SQ8 class).
    Exact integer micro-L2 throughout; reconstruction floors onto the
    same micro lattice in both engines, so the report hash-verifies."""
    from pdf_to_vectordb_etl_spark.operators import quantization as pq

    emb = _t(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    return pq.sq8_recall_report(
        emb.filter(F.col("vec_id") >= 20),
        emb.filter(F.col("vec_id") < 20),
        k=10,
    )


@query(oracle=_nndescent_oracle_sql(
        8, 4, 3, 8,
        what="assign",
        corpus_pred="vec_id >= 20 AND vec_id < 400",
        panel_pred="vec_id >= 400",
        out_k=6,
    ))
def q_ann_incremental_assign(spark, sf):
    """Persisted-graph ANN ingest (the ivf_incremental_assign pattern
    for the NN-descent family): build the kNN graph on the base
    corpus (vec_id 20..399), then beam-probe every NEW vector
    (vec_id >= 400) through the EXISTING graph and adopt its 6 nearest
    visited nodes as adjacency — the maintenance step a graph-served
    vector store runs on every upsert batch instead of rebuilding.
    Exact integer micro-L2 end to end; the full build + assign replays
    unrolled in DuckDB, hash-verified."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_graph,
        nn_descent_incremental_assign,
    )

    emb = _t(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    corpus = emb.filter(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 400)
    )
    new = emb.filter(F.col("vec_id") >= 400)
    g = nn_descent_graph(corpus, k=8, rounds=4)
    return nn_descent_incremental_assign(
        g, corpus, new, k=6, hops=3, beam=8
    )


# graph-ANN lifecycle (r10): drift report + refresh trigger replay
# the same build + assign CTEs as ann_incremental_assign, then the
# per-node occupancy / mean-distance rollup
@query(oracle=_nndescent_oracle_sql(
        8, 4, 3, 8,
        what="drift",
        corpus_pred="vec_id >= 20 AND vec_id < 400",
        panel_pred="vec_id >= 400",
        out_k=6,
    ))
def q_ann_graph_drift(spark, sf):
    """Graph-ANN drift report (the ivf_drift_report analogue for the
    NN-descent family — closes the incremental-assign maintenance
    loop): per base-graph node, in-degree share under the base build
    vs under the edges adopted by the new-vector assigns, plus the
    integer-mean edge distance on each side — the two signals (hub
    formation, rising adopted-edge distance) that tell the operator
    accumulated assigns have degraded recall and a re-descent is due.
    Exact integer counts/distances end to end; the whole build +
    assign + report replays unrolled in DuckDB, hash-verified."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_drift_report,
        nn_descent_graph,
        nn_descent_incremental_assign,
    )

    emb = _t(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    corpus = emb.filter(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 400)
    )
    new = emb.filter(F.col("vec_id") >= 400)
    g = nn_descent_graph(corpus, k=8, rounds=4).localCheckpoint(
        eager=True
    )
    assigned = nn_descent_incremental_assign(
        g, corpus, new, k=6, hops=3, beam=8
    )
    return nn_descent_drift_report(g, assigned).orderBy("node")


@query(oracle=_nndescent_oracle_sql(
        8, 4, 3, 8,
        what="refresh",
        corpus_pred="vec_id >= 20 AND vec_id < 400",
        panel_pred="vec_id >= 400",
        out_k=6,
    ))
def q_ann_graph_refresh(spark, sf):
    """One-row refresh decision over the graph-ANN drift report: fires
    when some node's occupancy share drifted past 0.05 or the global
    mean adopted-edge distance exceeds 200% of the base build's —
    the alertable retrain trigger, mirroring how ivf_drift_report's
    consumers schedule quantizer retraining. Exact integer
    cross-multiply (no division in the boolean); hash-verified."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_drift_report,
        nn_descent_graph,
        nn_descent_incremental_assign,
        nn_descent_refresh_trigger,
    )

    emb = _t(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    corpus = emb.filter(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 400)
    )
    new = emb.filter(F.col("vec_id") >= 400)
    g = nn_descent_graph(corpus, k=8, rounds=4).localCheckpoint(
        eager=True
    )
    assigned = nn_descent_incremental_assign(
        g, corpus, new, k=6, hops=3, beam=8
    )
    return nn_descent_refresh_trigger(
        nn_descent_drift_report(g, assigned)
    )


# tombstone-aware serving: identical hops, deleted candidates
# filtered BEFORE the final rank — a deleted id can never be served
@query(oracle=_nndescent_oracle_sql(
        8, 4, 3, 8,
        what="tombstone",
        delete_pred="cand % 7 = 3",
        out_k=10,
    ))
def q_ann_tombstone_search(spark, sf):
    """Tombstone-aware graph-ANN serving: vec_id % 7 == 3 corpus rows
    are deleted (the persisted deletions artifact), the beam probe
    still ROUTES through them (graph untouched), but they are
    anti-joined out before the final top-10 — deleting a probe's
    nearest neighbor surfaces the next-nearest visited node, and a
    deleted id can never be served (hash-verified by the oracle's
    identical tombstone filter)."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_graph,
        nn_descent_tombstone_search,
    )

    emb = _t(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    probes = emb.filter(F.col("vec_id") < 20)
    corpus = emb.filter(F.col("vec_id") >= 20)
    deletions = corpus.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    g = nn_descent_graph(corpus, k=8, rounds=4)
    return nn_descent_tombstone_search(
        g, corpus, probes, deletions, k=10, hops=3, beam=8
    )


# IVF tombstones: the k1_topk_ivf replay with the deletion
# anti-filter on the assigned corpus before scoring
@query(oracle="""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 2),
        sampled AS (
          SELECT vec_id, embedding FROM corpus
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        cents AS (
          SELECT row_number() OVER (ORDER BY vec_id) AS list_id,
                 CAST(embedding AS DOUBLE[]) AS centroid
          FROM sampled),
        cassign AS (
          SELECT vec_id, embedding, list_id FROM (
            SELECT c.vec_id, c.embedding, ct.list_id,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round(list_cosine_similarity(
                       CAST(c.embedding AS DOUBLE[]), ct.centroid), 6) DESC,
                       ct.list_id) AS r
            FROM corpus c CROSS JOIN cents ct)
          WHERE r = 1),
        qprobe AS (
          SELECT qid, qv, list_id FROM (
            SELECT q.vec_id AS qid, CAST(q.embedding AS DOUBLE[]) AS qv,
                   ct.list_id,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round(list_cosine_similarity(
                       CAST(q.embedding AS DOUBLE[]), ct.centroid), 6) DESC,
                       ct.list_id) AS r
            FROM embeddings q CROSS JOIN cents ct
            WHERE q.vec_id < 2)
          WHERE r <= 4),
        scored AS (
          SELECT p.qid, c.vec_id,
                 list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), p.qv) AS s
          FROM cassign c JOIN qprobe p USING (list_id)
          WHERE NOT (c.vec_id % 7 = 3))
        SELECT qid, vec_id, round(s, 4) AS sim,
               CAST(row_number() OVER (
                 PARTITION BY qid ORDER BY s DESC, vec_id) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 5
    """)
def q_ivf_tombstone_topk(spark, sf):
    """Tombstone-aware IVF serving: the index (md5-sampled centroids +
    list assignment) is the artifact trained on the FULL corpus —
    deletions never retrain or reshuffle lists — and vec_id % 7 == 3
    rows are anti-joined out of the assigned corpus before scoring, so
    they are never read into a candidate set. Same hash-verified
    replay as k1_topk_ivf plus the deletion filter."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        ivf_tombstone_topk,
    )

    emb = _t(spark, sf, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
    )
    corpus = emb.filter(F.col("vec_id") >= 2)
    deletions = corpus.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    out = ivf_tombstone_topk(
        corpus, queries_df, deletions, k=5, n_lists=16, n_probe=4,
        corpus_vec="embedding", corpus_id="vec_id",
    )
    return out.select(
        "qid", "vec_id", F.round("cosine_sim", 4).alias("sim"), "rank"
    )


@query(oracle="""
        WITH corpus AS (
          SELECT vec_id FROM embeddings
          WHERE embedding IS NOT NULL AND vec_id >= 2),
        c AS (
          SELECT CAST(count(*) AS BIGINT) AS n_total,
                 CAST(coalesce(sum(CASE WHEN vec_id % 7 = 3 THEN 1 END),
                               0) AS BIGINT) AS n_deleted
          FROM corpus)
        SELECT n_total, n_deleted,
               CASE WHEN n_total > 0 THEN
                 CAST((CAST(n_deleted AS HUGEINT) * 1000000) // n_total
                      AS BIGINT) / 1e6 END AS deleted_frac_q6,
               (n_total > 0
                AND CAST(n_deleted AS HUGEINT) * 1000000
                    >= 100000 * CAST(n_total AS HUGEINT))
                 AS compaction_due
        FROM c
    """)
def q_ann_compaction_signal(spark, sf):
    """Occupancy-driven compaction trigger for tombstoned ANN
    artifacts: one row with the live/deleted split and compaction_due
    = deleted share ≥ 10% (vec_id % 7 deletions sit at ~14%, so the
    trigger FIRES on every fixture — the planted-signal convention).
    Exact integer share and boolean; trivially hash-verified."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        ann_compaction_signal,
    )

    emb = _t(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    corpus = emb.filter(F.col("vec_id") >= 2)
    deletions = corpus.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    return ann_compaction_signal(
        corpus, deletions, threshold_micro=100_000
    )


# sort-free approximate quantile normalization: mirrored IEEE
# bucket expression, exact integer cumulative counts, value COPIED
# from the pooled bucket max
@query(oracle=r"""
        WITH qa_base AS (
          SELECT event_id AS id, event_type AS g, value AS v
          FROM events
          WHERE value IS NOT NULL AND NOT isnan(value)),
        qa_mm AS (SELECT min(v) AS lo, max(v) AS hi FROM qa_base),
        qa_b AS (
          SELECT id, g, v,
                 CASE WHEN hi > lo THEN
                   least(CAST(floor((v - lo) / (hi - lo) * 256.0)
                              AS BIGINT), 255)
                 ELSE 0 END AS b
          FROM qa_base CROSS JOIN qa_mm),
        qa_pool AS (
          SELECT b, CAST(count(*) AS BIGINT) AS cnt, max(v) AS bmax
          FROM qa_b GROUP BY b),
        qa_pcum AS (
          SELECT b AS pb, bmax,
                 CAST(sum(cnt) OVER (
                   ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_hi,
                 CAST(sum(cnt) OVER (
                   ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - cnt AS BIGINT) AS cum_lo
          FROM qa_pool),
        qa_cells AS (
          SELECT g, b, CAST(count(*) AS BIGINT) AS cnt_g
          FROM qa_b GROUP BY g, b),
        qa_gcum AS (
          SELECT g, b,
                 CAST(sum(cnt_g) OVER (
                   PARTITION BY g ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS r_hi
          FROM qa_cells),
        qa_ng AS (
          SELECT g, CAST(sum(cnt_g) AS BIGINT) AS n_g
          FROM qa_cells GROUP BY g),
        qa_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM qa_base),
        qa_tgt AS (
          SELECT c.g, c.b,
                 (CAST(c.r_hi AS HUGEINT) * n.n + ng.n_g - 1) // ng.n_g
                   AS target_pr
          FROM qa_gcum c JOIN qa_ng ng USING (g) CROSS JOIN qa_n n),
        qa_map AS (
          SELECT t.g, t.b, p.bmax AS norm_value
          FROM qa_tgt t JOIN qa_pcum p
            ON t.target_pr > p.cum_lo AND t.target_pr <= p.cum_hi)
        SELECT r.id AS event_id, r.g AS event_type, r.v AS value,
               m.norm_value
        FROM qa_b r JOIN qa_map m ON r.g = m.g AND r.b = m.b
    """)
def q_quantile_normalize_approx(spark, sf):
    """Sort-free approximate quantile normalization — the 100-TB path
    for quantile_normalize (whose pooled order statistics are
    global-sort-bound, ×100 = 23.7×): a 256-bucket equi-width pooled
    histogram replaces both rank passes; every shuffle is an
    aggregation. The approximation is itself deterministic (single
    mirrored IEEE bucket expression + exact integer counts; the
    normalized value is a COPIED per-bucket max), so the output
    hash-verifies — and tests pin its rank error vs the exact path to
    the landing bucket's occupancy (the sketch guarantee)."""
    from pdf_to_vectordb_etl_spark.operators.aggregates import (
        quantile_normalize_approx,
    )

    ev = _t(spark, sf, "events").filter(
        F.col("value").isNotNull() & ~F.isnan(F.col("value"))
    )
    return quantile_normalize_approx(
        ev, "value", "event_type", "event_id", n_buckets=256
    )


# IVF compaction rebuild: both train+assign chains replayed (the
# md5-sample centroid convention), occupancy per list before
# (old quantizer, live rows) vs after (retrained on live)
@query(oracle="""
        WITH corpus AS (
          SELECT vec_id, embedding FROM embeddings
          WHERE embedding IS NOT NULL AND vec_id >= 2),
        live AS (
          SELECT vec_id, embedding FROM corpus
          WHERE NOT (vec_id % 7 = 3)),
        sampled_o AS (
          SELECT vec_id, embedding FROM corpus
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        cents_o AS (
          SELECT row_number() OVER (ORDER BY vec_id) AS list_id,
                 CAST(embedding AS DOUBLE[]) AS centroid
          FROM sampled_o),
        before_t AS (
          SELECT list_id, CAST(count(*) AS BIGINT) AS n_live_before
          FROM (
            SELECT vec_id, list_id FROM (
              SELECT c.vec_id, ct.list_id,
                     row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY round(list_cosine_similarity(
                         CAST(c.embedding AS DOUBLE[]), ct.centroid), 6)
                         DESC, ct.list_id) AS r
              FROM corpus c CROSS JOIN cents_o ct)
            WHERE r = 1)
          WHERE NOT (vec_id % 7 = 3)
          GROUP BY list_id),
        sampled_n AS (
          SELECT vec_id, embedding FROM live
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        cents_n AS (
          SELECT row_number() OVER (ORDER BY vec_id) AS list_id,
                 CAST(embedding AS DOUBLE[]) AS centroid
          FROM sampled_n),
        after_t AS (
          SELECT list_id, CAST(count(*) AS BIGINT) AS n_after
          FROM (
            SELECT vec_id, list_id FROM (
              SELECT c.vec_id, ct.list_id,
                     row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY round(list_cosine_similarity(
                         CAST(c.embedding AS DOUBLE[]), ct.centroid), 6)
                         DESC, ct.list_id) AS r
              FROM live c CROSS JOIN cents_n ct)
            WHERE r = 1)
          GROUP BY list_id)
        SELECT CAST(list_id AS INT) AS list_id,
               coalesce(n_live_before, 0) AS n_live_before,
               coalesce(n_after, 0) AS n_after
        FROM before_t FULL OUTER JOIN after_t USING (list_id)
    """)
def q_ivf_compact_rebuild(spark, sf):
    """Execute the compaction ann_compaction_signal fires for the IVF
    family: retrain the quantizer on the live rows (the vec_id % 7 = 3
    tombstones dropped for real) and report per-list occupancy under
    the old index (live rows only — what tombstone serving reads) vs
    the retrained one. Both train+assign chains replay in SQL (the
    md5-sample centroid convention), hash-verified."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        ivf_compact_rebuild,
    )

    # repartition: the literal-argmax assign is a pure projection, so
    # on this single-file corpus it would otherwise run on ONE task
    # (the funnel repartition-before-CPU-work lesson; no-op cost at
    # real multi-file scale)
    emb = (
        _t(spark, sf, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .repartition(spark.sparkContext.defaultParallelism)
    )
    corpus = emb.filter(F.col("vec_id") >= 2)
    deletions = corpus.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    return ivf_compact_rebuild(
        corpus, deletions, n_lists=16, vec_col="embedding", id_col="vec_id"
    )


# deterministic md5-prefix split: identical lowercase hex both
# engines (the ivf_centroids sampling convention)
@query(oracle=r"""
        WITH per AS (
          SELECT CASE
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                     THEN 'train'
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                     THEN 'val'
                   ELSE 'test' END AS split,
                 coalesce(lang, '') AS lang,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                      ELSE len(string_split_regex(
                             trim(coalesce(text, '')), '\s+')) END AS nt
          FROM documents),
        g AS (
          SELECT split, lang,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(nt) AS BIGINT) AS n_tokens
          FROM per GROUP BY 1, 2),
        tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM g)
        SELECT split, lang, n_docs, n_tokens,
               CASE WHEN tot > 0 THEN
                 CAST((CAST(n_docs AS HUGEINT) * 1000000) // tot
                      AS BIGINT) / 1e6 END AS frac_of_total_q6
        FROM g CROSS JOIN tt
    """)
def q_stratified_split(spark, sf):
    """Deterministic md5-prefix train/val/test split + per-language
    composition report — seedless, engine-portable (Spark and DuckDB
    md5 emit identical lowercase hex), rows never migrate between
    splits as the corpus grows. See curation.stratified_split_report."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        stratified_split_report,
    )

    docs = _t(spark, sf, "documents")
    return stratified_split_report(docs, by="lang")


# curriculum batches: the proven ta_quality feature replay (raw
# doubles — every op a mirrored single IEEE step, so the micro
# floor cannot split), row_number over the exact integer key
@query(oracle=r"""
        WITH f AS (
          SELECT doc_id,
                 length(coalesce(text, '')) AS n_chars,
                 CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                      ELSE len(string_split_regex(
                             trim(coalesce(text, '')), '\s+')) END
                   AS n_tokens,
                 len(regexp_extract_all(coalesce(text, ''), '[^\w\s]'))
                   AS n_punct,
                 len(regexp_extract_all(lower(coalesce(text, '')),
                     '\b(the|a|of|and|to|in|is|it)\b')) AS n_stop
          FROM documents),
        g AS (
          SELECT doc_id, n_tokens,
                 CASE WHEN n_tokens > 0
                      THEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens
                      ELSE 0.0 END AS mean_token_len,
                 CASE WHEN n_chars > 0 THEN n_punct * 1.0 / n_chars
                      ELSE 0.0 END AS punct_ratio,
                 CASE WHEN n_tokens > 0 THEN n_stop * 1.0 / n_tokens
                      ELSE 0.0 END AS stopword_ratio
          FROM f),
        q AS (
          SELECT doc_id,
                 CAST(n_tokens AS BIGINT) AS nt,
                 CAST(floor((least(stopword_ratio * 4, 1.0) * 0.4
                   + CASE WHEN mean_token_len BETWEEN 3 AND 10
                          THEN 0.4 ELSE 0.0 END
                   + CASE WHEN punct_ratio < 0.2
                          THEN 0.2 ELSE 0.0 END) * 1e6) AS BIGINT)
                   AS qm
          FROM g),
        r AS (
          SELECT doc_id, nt, qm,
                 row_number() OVER (ORDER BY -qm, nt, doc_id) AS rn
          FROM q)
        SELECT CAST((rn - 1) // 64 AS BIGINT) AS batch_idx,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               min(qm) / 1e6 AS min_quality_q6,
               max(qm) / 1e6 AS max_quality_q6
        FROM r GROUP BY 1
    """)
def q_curriculum_batches(spark, sf):
    """Curriculum schedule card: corpus ordered quality-desc / tokens /
    id via the range-partitioned global_row_number primitive, cut into
    64-doc batches, per-batch doc/token/quality-range summary. Exact
    integer sort keys — batch membership replays bit-identically."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        curriculum_batches,
    )

    docs = _t(spark, sf, "documents")
    return curriculum_batches(docs, batch_size=64)


# epoch plan: the sweep's ordered-fold weight convention over
# token counts + integer-exact target/epoch divisions
@query(oracle=r"""
        WITH per AS (
          SELECT coalesce(source, '') AS grp,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN length(trim(coalesce(text, ''))) = 0
                               THEN 0
                               ELSE len(string_split_regex(
                                      trim(coalesce(text, '')), '\s+'))
                          END) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        sweep AS (
          SELECT grp, n_docs, n_tokens, e.t AS t, e.w AS w
          FROM (SELECT grp, n_docs, n_tokens,
                       unnest([
                         {'t': '0.5',
                          'w': CAST(n_tokens AS DOUBLE)
                               * CAST(n_tokens AS DOUBLE)},
                         {'t': '1.0', 'w': CAST(n_tokens AS DOUBLE)},
                         {'t': '2.0',
                          'w': sqrt(CAST(n_tokens AS DOUBLE))}]) AS e
                FROM per)),
        totals AS (
          SELECT t,
                 list_reduce(
                   list_transform(
                     list_sort(list({'grp': grp, 'w': w})),
                     s -> s.w),
                   (a, b) -> a + b) AS total
          FROM sweep GROUP BY t),
        sh AS (
          SELECT t, grp, n_docs, n_tokens,
                 CAST(floor(w / total * 1000000.0) AS BIGINT) AS sm
          FROM sweep JOIN totals USING (t))
        SELECT t, grp AS source, n_docs, n_tokens,
               sm / 1e6 AS share_q6,
               CAST((sm * 1000000) // 1000000 AS BIGINT) AS target_tokens,
               CASE WHEN n_tokens > 0 THEN
                 CAST((sm * 1000000) // n_tokens AS BIGINT) / 1e6
               END AS epochs_q6
        FROM sh
    """)
def q_epoch_mixture_plan(spark, sf):
    """Per-source epoch/repeat plan for a 1M-token budget at each
    sampling temperature — the operational readout after the
    temperature sweep (epochs > 1 ⇒ that source up-samples). Integer
    arithmetic past the sweep's micro-floored shares; see
    curation.epoch_mixture_plan."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        epoch_mixture_plan,
    )

    docs = _t(spark, sf, "documents")
    return epoch_mixture_plan(docs, by="source", budget_tokens=1_000_000)


# split leakage: groups by the NORMALIZED TEXT itself (same
# equivalence classes as Spark's sha2 digest, no hash needed)
@query(oracle=r"""
        WITH per AS (
          SELECT CASE
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                     THEN 'train'
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                     THEN 'val'
                   ELSE 'test' END AS sp,
                 lower(regexp_replace(trim(coalesce(text, '')),
                                      '\s+', ' ', 'g')) AS fp
          FROM documents),
        pf AS (
          SELECT fp,
                 CAST(coalesce(sum(CASE WHEN sp = 'train' THEN 1 END),
                               0) AS BIGINT) AS ntr,
                 CAST(coalesce(sum(CASE WHEN sp = 'val' THEN 1 END),
                               0) AS BIGINT) AS nva,
                 CAST(coalesce(sum(CASE WHEN sp = 'test' THEN 1 END),
                               0) AS BIGINT) AS nte
          FROM per GROUP BY fp),
        a AS (
          SELECT
            CAST(coalesce(sum(CASE WHEN ntr > 0 AND nva > 0 THEN 1 END),
                          0) AS BIGINT) AS sh_tv,
            CAST(coalesce(sum(CASE WHEN ntr > 0 AND nva > 0 THEN nva END),
                          0) AS BIGINT) AS ct_tv,
            CAST(coalesce(sum(CASE WHEN ntr > 0 AND nte > 0 THEN 1 END),
                          0) AS BIGINT) AS sh_tt,
            CAST(coalesce(sum(CASE WHEN ntr > 0 AND nte > 0 THEN nte END),
                          0) AS BIGINT) AS ct_tt,
            CAST(coalesce(sum(CASE WHEN nva > 0 AND nte > 0 THEN 1 END),
                          0) AS BIGINT) AS sh_vt,
            CAST(coalesce(sum(CASE WHEN nva > 0 AND nte > 0 THEN nte END),
                          0) AS BIGINT) AS ct_vt
          FROM pf)
        SELECT 'train|val' AS split_pair, sh_tv AS n_shared_fps,
               ct_tv AS n_contaminated_docs FROM a
        UNION ALL
        SELECT 'train|test', sh_tt, ct_tt FROM a
        UNION ALL
        SELECT 'val|test', sh_vt, ct_vt FROM a
    """)
def q_split_contamination(spark, sf):
    """Train/eval leakage audit across the md5 split: per split pair,
    distinct shared contents + eval-side docs whose content also sits
    in the train side (exact-dedup fingerprint convention). One corpus
    aggregate + a 3-row fold; see curation.split_contamination_report."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        split_contamination_report,
    )

    docs = _t(spark, sf, "documents")
    return split_contamination_report(docs)


# shard plan: exclusive prefix sum under doc_id order
@query(oracle=r"""
        WITH toks AS (
          SELECT doc_id,
                 CAST(CASE WHEN length(trim(coalesce(text, ''))) = 0
                           THEN 0
                           ELSE len(string_split_regex(
                                  trim(coalesce(text, '')), '\s+'))
                      END AS BIGINT) AS nt
          FROM documents),
        pre AS (
          SELECT doc_id, nt,
                 CAST(coalesce(sum(nt) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS pfx
          FROM toks)
        SELECT CAST(pfx // 50000 AS BIGINT) AS shard_idx,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_doc,
               max(doc_id) AS last_doc
        FROM pre GROUP BY 1
    """)
def q_shard_manifest(spark, sf):
    """Token-balanced output-shard plan: docs in id order, boundary
    every 50k whitespace tokens of exclusive prefix mass (the
    range-partitioned global_prefix_sum primitive — never a global
    Window); per shard docs/tokens/id range."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        shard_manifest,
    )

    docs = _t(spark, sf, "documents")
    return shard_manifest(docs, shard_tokens=50_000)


# T43 live split-composition monitor: same report as the batch
# stratified split (cells/finale recipe)
@query(oracle_of="stratified_split")
def q_t43_stream_split_monitor(spark, sf):
    """T43 — live split-composition monitor: the per-(split, lang)
    doc/token counts are the bounded associative streaming state
    (stratified_split_cells), snapshot through the IDENTICAL
    stratified_split_from_cells finale as the batch report, whose SQL
    is the parity oracle — the live view of whether stratification is
    holding as documents arrive."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        md5_split,
        stratified_split_from_cells,
    )
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = (
        table_stream(spark, sf, "documents")
        .groupBy(
            md5_split("doc_id").alias("split"),
            F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(
                F.sum(
                    ta.token_count(F.coalesce(F.col("text"), F.lit("")))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_tokens"),
        )
    )
    snap = drain_to_memory(stream, "t43_split_cells")
    return stratified_split_from_cells(snap, by="lang")


# T42 live tombstone-occupancy monitor: same one-row report as the
# batch compaction signal (cells/finale recipe)
@query(oracle_of="ann_compaction_signal")
def q_t42_stream_compaction(spark, sf):
    """T42 — live tombstone-occupancy monitor: the (n_total,
    n_deleted) counts are the one-row associative streaming state,
    snapshot through the IDENTICAL ann_compaction_finale projection as
    the batch ann_compaction_signal (whose SQL is the parity oracle);
    fires compaction_due the moment the deleted share crosses 10%."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        ann_compaction_finale,
    )
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        table_stream,
    )

    stream = (
        table_stream(spark, sf, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.col("vec_id") >= 2))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.coalesce(
                F.sum((F.col("vec_id") % 7 == 3).cast("int")), F.lit(0)
            )
            .cast("long")
            .alias("n_deleted"),
        )
    )
    snap = drain_to_memory(stream, "t42_compaction_cells")
    return ann_compaction_finale(snap, threshold_micro=100_000)
