"""Each shared derivation in derived.py against its DuckDB CTE twin.

The registry keys that splice these in are graded through their own
oracles; this battery checks each builder and its twin directly, for
every variant the registry uses, on the sf0.001 tables and on the
hostile fixture (pre-1970 clocks, the epoch ±1 µs, year 9999, NULL ts
and NULL value).  It also checks the two rules the builders rest on,
cents and the day floor, the text rules the corpus, dedup and LSH keys
share (tokens, word shingles, hash59, normalize-redact and the corpus
split), each against its SQL twin, and that no package file writes any
of these rules out by hand.
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from atac_data_products_spark.derived import (
    BOTH_WAYS_SQL,
    both_ways,
    copart_pairs,
    copart_pairs_sql,
    daily_cents,
    daily_cents_sql,
)
from atac_data_products_spark.extensions.text import (
    normalize_redact,
    normalize_redact_sql,
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)
from atac_data_products_spark.functions.hashes import hash59, hash59_sql
from atac_data_products_spark.functions.numeric import to_fixed, to_fixed_sql
from atac_data_products_spark.registry_corpus import _split, _split_sql
from atac_data_products_spark.registry_graph import CN_BULK
from atac_data_products_spark.registry_scale import BFS_BULK, SUBSTR_GRAM
from atac_data_products_spark.sources.tables import (
    epoch_day_from_us,
    epoch_day_from_us_sql,
    load_table,
    ts_us_expr,
)
from tests.conftest import SF_SMALL
from tools import hostile_fixture as hf
from tools.check_correctness import duck_connect

PKG = Path(__file__).resolve().parent.parent / "atac_data_products_spark"


@pytest.fixture(scope="module", params=["sf0.001", "hostile"])
def tables(request, tmp_path_factory):
    """(sf_dir, duckdb connection) for each table set."""
    if request.param == "hostile":
        sf_dir = str(tmp_path_factory.mktemp("hostile_derived"))
        hf.build(sf_dir, include_case_traps=False)
    else:
        sf_dir = SF_SMALL
    con = duck_connect(sf_dir)
    yield sf_dir, con
    con.close()


def _sorted(rows):
    # NULL-safe total order over rows of ints, strings and NULLs
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.mark.parametrize("where", [None, CN_BULK, BFS_BULK])
def test_copart_pairs_match_their_cte(spark, tables, where):
    sf_dir, con = tables
    got = copart_pairs(spark, sf_dir, where).select("p1", "p2").collect()
    want = con.execute(
        f"WITH {copart_pairs_sql(where or '')} SELECT p1, p2 FROM pairs"
    ).fetchall()
    assert got, "empty edge set proves nothing"
    assert _sorted(got) == _sorted(want)


@pytest.mark.parametrize("where", [None, BFS_BULK])
def test_both_ways_matches_its_cte(spark, tables, where):
    sf_dir, con = tables
    got = both_ways(copart_pairs(spark, sf_dir, where)).select("src", "dst").collect()
    want = con.execute(
        f"WITH {copart_pairs_sql(where or '')}, {BOTH_WAYS_SQL} "
        "SELECT src, dst FROM edges"
    ).fetchall()
    assert _sorted(got) == _sorted(want)


@pytest.mark.parametrize("by", [(), ("event_type",)])
@pytest.mark.parametrize("where", ["", "ts IS NOT NULL"])
def test_daily_cents_match_their_cte(spark, tables, by, where):
    sf_dir, con = tables
    ev = load_table(spark, sf_dir, "events")
    if where:
        ev = ev.where(where)
    cols = [*by, "day", "v"]
    got = daily_cents(ev, *by, name="v").select(*cols).collect()
    want = con.execute(
        f"WITH {daily_cents_sql(*by, where=where, name='v')} "
        f"SELECT {', '.join(cols)} FROM g"
    ).fetchall()
    assert got
    assert _sorted(got) == _sorted(want)


def test_event_day_matches_its_sql_twin(spark, tables):
    sf_dir, con = tables
    ev = load_table(spark, sf_dir, "events")
    got = ev.select("event_id", epoch_day_from_us(ts_us_expr(ev))).collect()
    want = con.execute(
        f"SELECT event_id, {epoch_day_from_us_sql()} FROM events"
    ).fetchall()
    assert _sorted(got) == _sorted(want)


def test_hostile_days_floor_before_1970(spark, tmp_path):
    # the fixture's clocks just before the epoch land on day -1, not 0
    hf.pq_write_events(str(tmp_path))
    ev = load_table(spark, str(tmp_path), "events")
    days = dict(
        ev.select("event_id", epoch_day_from_us(ts_us_expr(ev)).alias("d")).collect()
    )
    assert (days[1], days[2], days[3], days[4], days[5]) == (-7140, -1, 0, 0, -1)
    assert days[9] is None


# half-cent values, negatives, the ±1e6 domain edge, and NULL
FIXED_CASES = [
    0.0, 0.005, 0.015, 1.005, 2.675, 12.345, 99.99, 1e6,
    -0.005, -0.015, -2.675, -99.99, -1e6, None,
]


@pytest.mark.parametrize("scale", [100, 10000])
def test_to_fixed_matches_its_sql_twin(spark, scale):
    schema = StructType([StructField("x", DoubleType())])
    df = spark.createDataFrame([(x,) for x in FIXED_CASES], schema)
    got = [r[0] for r in df.select(to_fixed("x", scale)).collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {to_fixed_sql('x', scale)} FROM (SELECT CAST(? AS DOUBLE) AS x)",
            [x],
        ).fetchone()[0]
        for x in FIXED_CASES
    ]
    con.close()
    assert got == want
    assert got[-1] is None
    assert all(isinstance(v, int) for v in got[:-1])


# documents every table set gets on top of its own: NULL text, the
# whitespace zoo with \x0B (Java's \s holds it, RE2's does not), texts
# shorter than a shingle, and a NULL doc id
EXTRA_DOCS = [
    (-1, None),
    (-2, "\t\n\r  \x0b\x0c"),
    (-3, "one two"),
    (-4, "a\x0bb\x0bc d\te"),
    (-5, " Lead 12 and  trail 345 "),
    (None, "a doc without an id"),
]


@pytest.fixture(scope="module")
def docs(spark, tables):
    """(Spark documents, DuckDB CTE `docs`): (doc_id, text) of the table
    set plus EXTRA_DOCS."""
    sf_dir, con = tables
    extra = pa.table(
        {
            "doc_id": pa.array([d for d, _ in EXTRA_DOCS], pa.int64()),
            "text": pa.array([t for _, t in EXTRA_DOCS], pa.string()),
        }
    )
    con.register("extra_docs", extra)
    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    df = df.unionByName(spark.createDataFrame(extra.to_pandas(), df.schema))
    return df, (
        "docs AS (SELECT doc_id, text FROM documents "
        "UNION ALL SELECT doc_id, text FROM extra_docs)"
    )


def _twins(con, docs, spark_col, sql):
    """Sorted (doc_id, value) rows of `spark_col` and of `sql` over docs."""
    df, cte = docs
    got = df.select("doc_id", spark_col).collect()
    want = con.execute(f"WITH {cte} SELECT doc_id, {sql} FROM docs").fetchall()
    assert len(got) > len(EXTRA_DOCS)
    return _sorted(got), _sorted(want)


def test_tokens_match_their_sql_twin(tables, docs):
    got, want = _twins(tables[1], docs, tokens("text"), tokens_sql())
    assert got == want
    by_id = dict(got)
    assert by_id[-1] is None
    assert by_id[-4] == ["a\x0bb\x0bc", "d", "e"]


@pytest.mark.parametrize("n", [3, SUBSTR_GRAM])
def test_word_shingles_match_their_sql_twin(tables, docs, n):
    got, want = _twins(
        tables[1], docs, word_shingles(tokens("text"), n), word_shingles_sql(tokens_sql(), n)
    )
    # Spark's shingles of NULL text are [], DuckDB's are NULL: both
    # explode to no rows, which is all a consumer sees
    assert got == _sorted((d, [] if v is None else v) for d, v in want)
    by_id = dict(got)
    assert by_id[-1] == by_id[-3] == []
    assert any(len(v) > 1 for v in by_id.values())


def test_normalize_redact_matches_its_sql_twin(tables, docs):
    got, want = _twins(tables[1], docs, normalize_redact("text"), normalize_redact_sql())
    assert got == want
    assert dict(got)[-5] == "lead <num> and trail <num>"


@pytest.mark.parametrize("salt", ["", "mix"])
def test_hash59_matches_its_sql_twin(tables, docs, salt):
    # a salted hash concatenates in the caller; NULL text stays NULL
    col = F.concat(F.lit(salt), F.col("text")) if salt else F.col("text")
    sql = f"'{salt}' || text" if salt else "text"
    got, want = _twins(tables[1], docs, hash59(col), hash59_sql(sql))
    assert got == want
    assert dict(got)[-1] is None


def test_corpus_split_matches_its_sql_twin(tables, docs):
    got, want = _twins(tables[1], docs, _split(), _split_sql())
    assert got == want
    assert {v for _, v in got} == {"train", "val", "test"}


# an argument list with parentheses nested up to three deep
_ARGS = r"[^()]*"
for _ in range(3):
    _ARGS = rf"(?:[^()]|\({_ARGS}\))*"
# the cents rule's second spelling, DuckDB's round at any power-of-ten
# scale and across line breaks, which rounds halves away from zero where
# to_fixed rounds them up
ROUND_COPY = rf"round\({_ARGS}\* 10+(, 0)?\)\s*AS BIGINT"
# the rules, as their hand-written copies read (regexes); the text
# rules in their SQL spelling, then their Spark one
HAND_COPIES = (
    r"\* 100 \+ 0\.5",
    r"% 86400000000 \+ 86400000000",
    ROUND_COPY,
    r"regexp_split_to_array\(trim\(lower\(",
    r"\bF\.split\(F\.trim\(F\.lower\(",
    r"array_to_string\(\w+\[i:i\+",
    r"F\.element_at\(\w+, i \+ j\)",
    r"'0x' \|\| substr\(md5\(",
    r"\bF\.conv\(\s*F\.substring\(\s*F\.md5\(",
    r"regexp_replace\(regexp_replace\(trim\(lower\(",
    r"\bF\.regexp_replace\(\s*F\.regexp_replace\(\s*F\.trim\(",
)
RULE_FILES = {
    PKG / "extensions" / "text.py",
    PKG / "functions" / "hashes.py",
    PKG / "functions" / "numeric.py",
    PKG / "sources" / "tables.py",
}
# the corpus split lives beside its keys (registry_corpus._split and
# _split_sql), so its one copy per engine is the one match allowed
SPLIT_RULE = (r'< 80, "train"', r"< 80 THEN 'train'")
# keys whose Spark side rounds with Spark's round, not to_fixed, so that
# their SQL twin rounds too
ROUNDING_KEYS = {
    "corpus_doc_embedding_hashed",
    "dq_skew_profile",
    "events_anomaly_seasonal",
    "events_bot_cadence_score",
    "ml_naive_bayes_langid",
    "sql_api_lateral_subquery",
    "stat_diff_in_diff",
    "stat_mcnemar_classifiers",
    "stat_powerlaw_mle",
    "timeseries_seasonal_decompose",
}


def _key_at(text: str, pos: int) -> str | None:
    """The key whose code holds ``pos``: the last ``@query`` before it,
    or the function it sits in, when that is a key or builds a key's
    oracle (``@query("k", oracle=_f())``)."""
    owners = re.findall(r'@query\(\s*"(\w+)"|^def (\w+)\(', text[:pos], re.M)
    if not owners:
        return None
    key, func = owners[-1]
    if key or re.search(rf'@query\(\s*"{func}"', text):
        return key or func
    use = re.search(rf'@query\(\s*"(\w+)",\s*oracle={func}\(\)', text)
    return use.group(1) if use else None


def test_no_package_file_writes_a_rule_out_by_hand():
    texts = {path: path.read_text() for path in sorted(PKG.rglob("*.py"))}
    found = [
        f"{path.relative_to(PKG)}: {m.group(0)}"
        for path, text in texts.items()
        if path not in RULE_FILES
        for pat in HAND_COPIES
        for m in re.finditer(pat, text)
        if pat != ROUND_COPY or _key_at(text, m.start()) not in ROUNDING_KEYS
    ]
    for pat in SPLIT_RULE:
        hits = [
            f"{path.relative_to(PKG)}: {m.group(0)}"
            for path, text in texts.items()
            for m in re.finditer(pat, text)
        ]
        found += hits if len(hits) > 1 else []
    assert not found, (
        "use functions/numeric.py::to_fixed[_sql], "
        "sources/tables.py::epoch_day_from_us[_sql], the text rules in "
        "extensions/text.py and functions/hashes.py, and "
        f"registry_corpus._split[_sql] instead: {found}"
    )
