"""Driver-contract registry: operator key → (PySpark impl, DuckDB oracle).

One entry per operator in SURVEY.md §2, re-expressed over the driver's
synthetic tables (TESTDATA.md).  Every Spark implementation aliases its
computed columns to the exact names used in the oracle SQL — the driver's
compare sorts columns by name before hashing.

Each docstring cites the reference behavior being modeled (file:line into
/root/reference).  Extensions (dedup / similarity / text / multimodal /
windowed events) live in ``registry_ext.py``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid as _uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.aggregates import collect_sorted_csv, first_match_pivot
from .operators.joins import broadcast_dim_join, intersect_keys, zip_columns
from .operators.unions import union_outer
from .operators.windows import first_per_group
from .sources.dims import ORGAN_TYPES, invert_dim, organ_dim
from .sources.ingest import COO_SCHEMA  # noqa: F401  (re-export for plans)
from .sources.rest import apply_search
from .sources.tables import load_table
from .functions.strings import concat_cell_id, replace_literal, strip_laterality

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(key: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            # fail LOUD at import: a duplicate key would silently shadow
            # the earlier contract (latest import wins) and the driver
            # would grade the wrong query under the old name
            raise ValueError(
                f"duplicate registry key {key!r}: already registered as "
                f"{QUERIES[key].__module__}.{QUERIES[key].__qualname__}"
            )
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _values_sql(rows, cols: list[str]) -> str:
    """Build a deterministic VALUES-literal oracle."""
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"SELECT * FROM (VALUES {body}) AS t({', '.join(cols)})"


# ---------------------------------------------------------------------------
# §2.1 Scans / sources
# ---------------------------------------------------------------------------


@query(
    "scan_tsv_manifest",
    oracle="""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS VARCHAR) AS n_regionkey
    FROM nation
    """,
)
def scan_tsv_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-string TSV scan with header (bin/concatenate.py:121,
    pd.read_csv(sep="\\t", dtype=str)): materialize nation as a TSV, read
    it back under an explicit all-string schema (no inference pass)."""
    from pyspark.sql.types import StringType, StructField, StructType

    out = _staging_dir("manifest_tsv")
    _t(spark, sf_dir, "nation").toPandas().to_csv(
        os.path.join(out, "nation.tsv"), sep="\t", index=False
    )
    schema = StructType(
        [StructField(c, StringType(), True) for c in ["n_nationkey", "n_name", "n_regionkey"]]
    )
    return spark.read.options(sep="\t", header=True).schema(schema).csv(out)


def _ensure_dir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


# Per-process staging root: unique per session (mkdtemp) so two concurrent
# sessions on one host never interleave a driver-side write with the other's
# read, reused across calls within a process, and removed at interpreter
# exit so repeated harness runs don't accumulate temp dirs.
_STAGING_ROOT: str | None = None


def _staging_dir(name: str) -> str:
    global _STAGING_ROOT
    if _STAGING_ROOT is None:
        _STAGING_ROOT = tempfile.mkdtemp(prefix="adp_staging_")
        atexit.register(shutil.rmtree, _STAGING_ROOT, True)
    return _ensure_dir(os.path.join(_STAGING_ROOT, name))


def _call_dir(name: str) -> str:
    """A fresh output path under ``_staging_dir(name)`` for one call, so
    two builds of the same key never write into each other's output."""
    return os.path.join(_staging_dir(name), _uuid.uuid4().hex[:8])


@query(
    "scan_h5ad",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def scan_h5ad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file ingestion boundary (anndata.read_h5ad,
    bin/concatenate.py:62): distributed binaryFile scan → Arrow-batched
    mapInPandas decode.  The container lacks h5py, so the identical
    plumbing is exercised decoding a parquet payload with pyarrow."""
    from .sources.ingest import decode_parquet_bytes, ingest_binary_files

    return ingest_binary_files(
        spark,
        f"{sf_dir}/documents.parquet",
        decode_parquet_bytes(),
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


@query(
    "scan_h5ad_codec",
    oracle="""
    WITH bins AS (SELECT unnest(ARRAY[0,1,2,3,4]) AS b)
    SELECT 'nation_h5ad' AS dataset,
           n_name AS barcode,
           'bin' || CAST(b AS VARCHAR) AS feature_id,
           CAST(n_nationkey * 100 + b + 1 AS DOUBLE) AS value
    FROM nation, bins
    WHERE (n_nationkey + b) % 3 = 0
    """,
)
def scan_h5ad_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL h5ad decode under the oracle gate (anndata.read_h5ad parity,
    bin/concatenate.py:62, no h5py/anndata installed): a deterministic
    CSR AnnData file is built from the nation dim with the pure-Python
    HDF5 writer (sources/hdf5_write.py — superblock v0, v1 object
    headers, symbol-table groups, GCOL vlen-string indices), staged
    once per sf_dir, then ingested through the DISTRIBUTED seam:
    binaryFile scan → Arrow-batched mapInPandas running the pure-Python
    HDF5 reader (sources/hdf5.py) → COO rows.  The oracle recomputes
    the same entries relationally, so the byte-level codec is
    value-checked end to end."""
    import hashlib as _hashlib

    import numpy as _np
    import pyarrow.parquet as _pq

    from .sources.hdf5_write import build_h5ad_csr
    from .sources.ingest import COO_SCHEMA, decode_h5ad_bytes, ingest_binary_files

    tag = _hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = _staging_dir(os.path.join(f"h5ad_{tag}", "nation_h5ad"))
    path = os.path.join(stage, "cell_by_bin.h5ad")
    if not os.path.exists(path):
        nat = (
            _pq.read_table(f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_name"])
            .to_pandas()
            .sort_values("n_nationkey", ignore_index=True)
        )
        barcodes = [str(n) for n in nat["n_name"]]
        features = [f"bin{b}" for b in range(5)]
        data, indices, indptr = [], [], [0]
        for key in nat["n_nationkey"]:
            for b in range(5):
                if (int(key) + b) % 3 == 0:
                    indices.append(b)
                    data.append(float(int(key) * 100 + b + 1))
            indptr.append(len(data))
        content = build_h5ad_csr(
            barcodes,
            features,
            _np.array(data, dtype="float64"),
            _np.array(indices, dtype="int32"),
            _np.array(indptr, dtype="int64"),
        )
        tmp = f"{path}.tmp"
        with open(tmp, "wb") as f:
            f.write(content)
        os.replace(tmp, path)
    return ingest_binary_files(spark, path, decode_h5ad_bytes, COO_SCHEMA)


@query(
    "scan_dir_discovery",
    oracle=_values_sql(
        [
            ("customer.parquet",),
            ("documents.parquet",),
            ("embeddings.parquet",),
            ("events.parquet",),
            ("lineitem.parquet",),
            ("nation.parquet",),
            ("orders.parquet",),
            ("part.parquet",),
            ("region.parquet",),
            ("supplier.parquet",),
        ],
        ["filename"],
    ),
)
def scan_dir_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-walk source discovery (find_files, bin/concatenate.py:38-45;
    make_directory.py:11-18) with deterministic path ordering replacing
    os.walk order (§2.11 quirk 6)."""
    files = sorted(f for f in os.listdir(sf_dir) if f.endswith(".parquet"))
    return spark.createDataFrame([(f,) for f in files], "filename string")


@query(
    "scan_file_pairs",
    oracle="""
    SELECT COALESCE(a.l_orderkey, b.l_orderkey) AS l_orderkey,
           (a.l_orderkey IS NOT NULL) AS has_bin,
           (b.l_orderkey IS NOT NULL) AS has_gene
    FROM (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_linenumber = 1) a
    FULL OUTER JOIN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_linenumber = 2) b
    USING (l_orderkey)
    """,
)
def scan_file_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality file pairing (bin/concatenate.py:48-53,
    make_directory.py:21-26): two parallel listings full-outer-joined on
    dataset to detect incomplete pairs."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") == 1).select("l_orderkey").distinct()
    b = li.filter(F.col("l_linenumber") == 2).select("l_orderkey").distinct()
    return (
        a.withColumn("__a", F.lit(1))
        .join(b.withColumn("__b", F.lit(1)), "l_orderkey", "full_outer")
        .select(
            "l_orderkey",
            F.col("__a").isNotNull().alias("has_bin"),
            F.col("__b").isNotNull().alias("has_gene"),
        )
    )


@query(
    "scan_rest_search",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE lang = 'en'
      AND (CASE WHEN doc_id % 7 = 0 THEN 'rev' END) IS NULL
    ORDER BY doc_id LIMIT 10000
    """,
)
def scan_rest_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES bool-query compilation (make_uuids_tsv.py:15-38): must/match
    equality + must_not/exists + size window compile to filters + limit;
    the network fetch stays a thin mockable boundary."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "next_revision_uuid", F.when(F.col("doc_id") % 7 == 0, F.lit("rev"))
    )
    dsl = {
        "query": {
            "bool": {
                "must": [{"match": {"lang": "en"}}],
                "must_not": [{"exists": {"field": "next_revision_uuid"}}],
            }
        },
        "from": 0,
        "size": 10_000,
        # deterministic page cursor — see apply_search: an unsorted
        # window is plan-dependent the moment it binds (it binds at the
        # 32x scale probe); oracle carries the same ORDER BY+LIMIT
        "sort": ["doc_id"],
    }
    return apply_search(docs, dsl).select("doc_id", "lang", "source")


@query(
    "scan_rest_entity",
    oracle="""
    SELECT s_suppkey, n_name AS organ_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """,
)
def scan_rest_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity organ lookup (GET /dataset/{uuid}/organs/,
    bin/concatenate.py:24-26): re-expressed as a broadcast dim join —
    never per-row HTTP."""
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    return broadcast_dim_join(
        sup, nat, sup.s_nationkey == nat.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("organ_name"))


@query("scan_yaml_dim", oracle=_values_sql(ORGAN_TYPES, ["code", "description"]))
def scan_yaml_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Organ-code YAML dimension (bin/organ_types.yaml; loaded at
    bin/concatenate.py:23,32-33): driver-side parse → tiny broadcastable
    DataFrame with explicit schema."""
    return organ_dim(spark)


@query("scan_json_dim", oracle=_values_sql(ORGAN_TYPES, ["code", "description"]))
def scan_json_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON dimension scan (data/symbol_to_ensembl.json et al., baked in at
    docker/Dockerfile:34): newline-JSON written then read with explicit
    schema — same dim content as the YAML path, proving both sources."""
    out = _staging_dir("json_dim")
    path = os.path.join(out, "dim.jsonl")
    with open(path, "w") as f:
        for code, desc in ORGAN_TYPES:
            f.write('{"code": "%s", "description": "%s"}\n' % (code, desc))
    return spark.read.schema("code string, description string").json(path)


@query(
    "scan_metadata_json",
    oracle="""
    SELECT 'adp-0000-fixed-uuid' AS product_uuid, count(*) AS cell_count
    FROM lineitem
    """,
)
def scan_metadata_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-metadata JSON round trip (written bin/concatenate.py:81-96,
    re-read at bin/upload.py:25-29): single-record JSON scan."""
    n = _t(spark, sf_dir, "lineitem").count()
    out = _staging_dir("meta_json")
    path = os.path.join(out, "meta.json")
    with open(path, "w") as f:
        f.write('{"product_uuid": "adp-0000-fixed-uuid", "cell_count": %d}\n' % n)
    return spark.read.schema("product_uuid string, cell_count bigint").json(path)


# ---------------------------------------------------------------------------
# §2.2 Projections / filters
# ---------------------------------------------------------------------------


@query(
    "project_drop_obs",
    oracle="SELECT l_orderkey, l_partkey, l_quantity AS value FROM lineitem",
)
def project_drop_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the matrix triple, drop all row-metadata columns
    (make_new_anndata_object, bin/concatenate.py:114-116) — plain column
    pruning, which Catalyst pushes into the parquet scan."""
    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", F.col("l_quantity").alias("value")
    )


@query("project_drop_col", oracle="SELECT n_nationkey, n_name FROM nation")
def project_drop_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop the accidental index column (`Unnamed: 0`,
    bin/concatenate.py:108)."""
    return _t(spark, sf_dir, "nation").drop("n_regionkey")


@query(
    "filter_nonempty_dataset",
    oracle="""
    SELECT l_orderkey, count(*) AS n_files
    FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
    """,
)
def filter_nonempty_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep datasets whose directory holds >1 entry
    (bin/concatenate.py:126): groupBy-count-filter over the listing."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_files"))
        .filter(F.col("n_files") > 1)
    )


@query(
    "filter_qc_present",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def filter_qc_present(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QC-file-presence gate (make_directory.py:29-31,62-64): a left-semi
    join of the dataset list against the QC listing — set membership
    without widening or duplicating rows."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return intersect_keys(cust, orders, "c_custkey").select("c_custkey", "c_name")


@query(
    "filter_dropna",
    oracle="""
    SELECT l_orderkey, l_linenumber, qty FROM (
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_quantity >= 10 THEN l_quantity END AS qty
      FROM lineitem
    ) WHERE qty IS NOT NULL
    """,
)
def filter_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-row drop (uuids.dropna(), make_directory.py:49) over a derived
    nullable column (the base tables carry no nulls)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .withColumn("qty", F.when(F.col("l_quantity") >= 10, F.col("l_quantity")))
        .select("l_orderkey", "l_linenumber", "qty")
        .na.drop(subset=["qty"])
    )


@query(
    "filter_match_eq",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
    FROM lineitem WHERE l_returnflag = 'R' AND l_linestatus = 'F'
    """,
)
def filter_match_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive equality predicates (ES match clauses,
    make_uuids_tsv.py:15-18) — pushed down to the parquet scan."""
    return _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F")
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")


@query(
    "filter_match_dynamic",
    oracle="SELECT c_custkey, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'",
)
def filter_match_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optional predicate appended only when requested
    (make_uuids_tsv.py:20-21): the conditional shows up in plan shape, not
    in engine code paths."""
    segment = "BUILDING"  # the 'organ was requested' case
    df = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    if segment is not None:
        df = df.filter(F.col("c_mktsegment") == segment)
    return df


@query(
    "filter_not_exists",
    oracle="""
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def filter_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """must_not/exists — latest-revision filter (make_uuids_tsv.py:29-36):
    an anti-join (the relational NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return cust.join(orders.distinct(), "c_custkey", "left_anti").select("c_custkey")


@query(
    "filter_dir_resolution",
    oracle="""
    SELECT c.c_custkey,
           COALESCE(p.public_key, q.consortium_key) AS resolved_key,
           CASE WHEN p.public_key IS NOT NULL THEN 'public' ELSE 'consortium' END AS access
    FROM customer c
    LEFT JOIN (SELECT o_custkey, min(o_orderkey) AS public_key
               FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) p
      ON c.c_custkey = p.o_custkey
    LEFT JOIN (SELECT o_custkey, min(o_orderkey) AS consortium_key
               FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) q
      ON c.c_custkey = q.o_custkey
    WHERE COALESCE(p.public_key, q.consortium_key) IS NOT NULL
    """,
)
def filter_dir_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-based path fallback — prefer public/<uuid>, else
    consortium/*/<uuid> (make_directory.py:34-44): two left joins +
    coalesce, instead of per-row filesystem probes."""
    orders = _t(spark, sf_dir, "orders")
    pub = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("pub_custkey"))
        .agg(F.min("o_orderkey").alias("public_key"))
    )
    con = (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("con_custkey"))
        .agg(F.min("o_orderkey").alias("consortium_key"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    return (
        cust.join(pub, cust.c_custkey == pub.pub_custkey, "left")
        .join(con, cust.c_custkey == con.con_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce("public_key", "consortium_key").alias("resolved_key"),
            F.when(F.col("public_key").isNotNull(), F.lit("public"))
            .otherwise(F.lit("consortium"))
            .alias("access"),
        )
        .filter(F.col("resolved_key").isNotNull())
    )


# ---------------------------------------------------------------------------
# §2.3 Scalar functions
# ---------------------------------------------------------------------------


@query(
    "str_replace_literal",
    oracle="SELECT c_custkey, replace(c_name, 'Customer#', '') AS barcode FROM customer",
)
def str_replace_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal prefix strip (BAM_data# barcode cleanup,
    bin/concatenate.py:67)."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey", replace_literal("c_name", "Customer#").alias("barcode")
    )


@query(
    "str_strip_laterality",
    oracle=f"""
    SELECT code, regexp_replace(description, ' \\((Left|Right)\\)$', '') AS organ
    FROM ({_values_sql(ORGAN_TYPES, ["code", "description"])})
    """,
)
def str_strip_laterality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(Left)/(Right) suffix removal (bin/concatenate.py:28)."""
    return organ_dim(spark).select(
        "code", strip_laterality("description").alias("organ")
    )


@query(
    "str_concat_cell_id",
    oracle="""
    SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS cell_id,
           l_orderkey, l_linenumber
    FROM lineitem
    """,
)
def str_concat_cell_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cell_id = dataset + '-' + barcode (bin/concatenate.py:71-76) as one
    vectorized concat_ws instead of a per-row f-string loop."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        concat_cell_id(
            F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
        ).alias("cell_id"),
        "l_orderkey",
        "l_linenumber",
    )


@query(
    "lit_annotate",
    oracle="""
    SELECT o_orderkey, 'atac' AS assay, 'sf-synthetic' AS dataset_source
    FROM orders
    """,
)
def lit_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-column annotation (dataset/tissue/barcode attach,
    bin/concatenate.py:66-69)."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.lit("atac").alias("assay"),
        F.lit("sf-synthetic").alias("dataset_source"),
    )


@query(
    "map_lookup_organ",
    oracle="""
    SELECT c_custkey, n_name AS nation_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def map_lookup_organ(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dict lookup code→description (get_tissue_type/convert_tissue_code,
    bin/concatenate.py:22-35): a broadcast map literal built from the dim
    — the Spark shape of a broadcast-cached lookup dict."""
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect()
    mapping = F.create_map(
        *[F.lit(x) for row in nat for x in (row.n_nationkey, row.n_name)]
    )
    return _t(spark, sf_dir, "customer").select(
        "c_custkey", F.element_at(mapping, F.col("c_nationkey")).alias("nation_name")
    )


@query(
    "map_invert",
    oracle=f"""
    SELECT description AS k, code AS v
    FROM ({_values_sql(ORGAN_TYPES, ["code", "description"])})
    """,
)
def map_invert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mapping inversion (make_uuids_tsv.py:13): with joins, direction is
    a projection choice."""
    return invert_dim(organ_dim(spark), "code", "description")


@query(
    "cast_to_numeric",
    oracle="""
    SELECT event_id,
           TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INTEGER) AS k_value
    FROM events
    """,
)
def cast_to_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String→numeric cast (age, pd.to_numeric at bin/concatenate.py:110)
    on a genuinely string-typed source (the props JSON payload).
    try_cast, not cast: a non-matching payload extracts to '' which
    ANSI-crashes a plain int cast; NULL matches the oracle (DuckDB
    regexp_extract misses are NULL) — pd.to_numeric(errors='coerce')
    semantics, the reference's own behavior."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.regexp_extract(F.col("props"), '"k": (\\d+)', 1)
        .try_cast("int")
        .alias("k_value"),
    )


@query(
    "fill_na",
    oracle="""
    SELECT event_id,
           COALESCE(CASE WHEN value >= 5.0 THEN value END, 0.0) AS value_filled
    FROM events
    """,
)
def fill_na(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value normalization (merged.fillna, bin/concatenate.py:109)."""
    return (
        _t(spark, sf_dir, "events")
        .withColumn("value_filled", F.when(F.col("value") >= 5.0, F.col("value")))
        .select("event_id", "value_filled")
        .na.fill({"value_filled": 0.0})
    )


@query("gen_uuid", oracle="SELECT count(*) AS n_rows, count(*) AS n_uuids FROM nation")
def gen_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-UUID generation (uuid.uuid4, bin/concatenate.py:141):
    nondeterministic by nature, so the checkable surface is the shape —
    one distinct uuid per row."""
    return (
        _t(spark, sf_dir, "nation")
        .withColumn("u", F.expr("uuid()"))
        .agg(F.count("*").alias("n_rows"), F.count_distinct("u").alias("n_uuids"))
    )


@query("gen_timestamp", oracle="SELECT count(*) AS n_rows, count(*) AS n_ts FROM nation")
def gen_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Creation-time stamp (str(datetime.now()), bin/concatenate.py:140):
    checkable surface = a non-null stringified timestamp per row."""
    return (
        _t(spark, sf_dir, "nation")
        .withColumn("ts", F.current_timestamp().cast("string"))
        .agg(F.count("*").alias("n_rows"), F.count("ts").alias("n_ts"))
    )


@query(
    "fmt_url",
    oracle="""
    SELECT c_custkey,
           's3://data-products/' || CAST(c_custkey AS VARCHAR) || '/product.h5mu' AS url
    FROM customer
    """,
)
def fmt_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-URL formatting (bin/concatenate.py:82,87) — including NOT
    reproducing the reference's URL/filename mismatch (§2.11 quirk 4)."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.lit("s3://data-products/"),
            F.col("c_custkey").cast("string"),
            F.lit("/product.h5mu"),
        ).alias("url"),
    )


# ---------------------------------------------------------------------------
# §2.4 Joins
# ---------------------------------------------------------------------------


@query(
    "join_intersect_obs",
    oracle="""
    SELECT l_orderkey FROM
      (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_linenumber <= 3) a
    WHERE EXISTS (SELECT 1 FROM lineitem b
                  WHERE b.l_linenumber >= 2 AND b.l_orderkey = a.l_orderkey)
    """,
)
def join_intersect_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 modality alignment (mu.pp.intersect_obs,
    bin/concatenate.py:99-102): left-semi join restricts modality A's cell
    set to cells also present in modality B."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") <= 3).select("l_orderkey").distinct()
    b = li.filter(F.col("l_linenumber") >= 2).select("l_orderkey")
    return intersect_keys(a, b, "l_orderkey")


@query(
    "join_donor_metadata",
    oracle="""
    SELECT o_orderkey, o_custkey, c_name AS donor_name, c_mktsegment AS donor_segment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_donor_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 donor-metadata attach (pandas merge + positional re-index,
    bin/concatenate.py:105-111): a keyed broadcast inner join — order-free,
    no positional emulation (§2.11 quirk 3)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return broadcast_dim_join(
        orders, cust, orders.o_custkey == cust.c_custkey
    ).select(
        "o_orderkey",
        "o_custkey",
        F.col("c_name").alias("donor_name"),
        F.col("c_mktsegment").alias("donor_segment"),
    )


@query(
    "join_organ_dim",
    oracle="""
    SELECT n_nationkey, n_name, r_name AS region_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def join_organ_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 organ-dimension join (bin/concatenate.py:24-27,34)."""
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return broadcast_dim_join(nat, reg, nat.n_regionkey == reg.r_regionkey).select(
        "n_nationkey", "n_name", F.col("r_name").alias("region_name")
    )


@query(
    "join_zip_columns",
    oracle="""
    SELECT a.r_regionkey, b.r_name
    FROM (SELECT r_regionkey, row_number() OVER (ORDER BY r_regionkey) AS rn FROM region) a
    JOIN (SELECT r_name, row_number() OVER (ORDER BY r_name) AS rn FROM region) b
    USING (rn)
    """,
)
def join_zip_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 positional column zip (pd.concat(axis=1),
    make_uuids_tsv.py:153-157): explicit total orders + row_number join
    replace implicit pandas row order."""
    reg = _t(spark, sf_dir, "region")
    return zip_columns(
        reg.select("r_regionkey"), reg.select("r_name"), ["r_regionkey"], ["r_name"]
    )


@query(
    "join_gene_map",
    oracle="""
    WITH gm AS (
      SELECT 'GENE_' || CAST(i AS VARCHAR) AS symbol,
             'ENSG' || lpad(CAST((i * 7919) % 100000000 AS VARCHAR), 11, '0')
               || '.' || CAST(1 + i % 20 AS VARCHAR) AS ensembl_id
      FROM range(40000) t(i)),
    p AS (
      SELECT p_partkey,
             'GENE_' || CAST((p_partkey * 31) % 50000 AS VARCHAR) AS symbol
      FROM part)
    SELECT p.p_partkey, p.symbol,
           coalesce(gm.ensembl_id, 'UNMAPPED') AS ensembl_id
    FROM p LEFT JOIN gm USING (symbol)
    """,
)
def join_gene_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gene symbol→ensembl annotation join at the reference's REAL dim
    cardinality: data/symbol_to_ensembl.json is ~57k entries (baked in
    at docker/Dockerfile:34), not the 16-row organ dim.  Broadcast left
    join with miss handling (unmapped symbols annotated, not dropped —
    the reference's dict .get() semantics).  Symbols are drawn from a
    50k space against a 40k map so ~20% of keys exercise the miss path."""
    from .sources.dims import gene_map_dim

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat(
            F.lit("GENE_"), ((F.col("p_partkey") * 31) % 50000).cast("string")
        ).alias("symbol"),
    )
    gm = gene_map_dim(spark)
    return p.join(F.broadcast(gm), "symbol", "left").select(
        "p_partkey",
        "symbol",
        F.coalesce(F.col("ensembl_id"), F.lit("UNMAPPED")).alias("ensembl_id"),
    )


# ---------------------------------------------------------------------------
# §2.5 Union  /  §2.6 Aggregations  /  §2.7 Windows & limits
# ---------------------------------------------------------------------------


@query(
    "union_outer_concat",
    oracle="""
    SELECT l_orderkey, l_quantity, l_extendedprice, NULL::DOUBLE AS l_tax
    FROM lineitem WHERE l_linenumber = 1
    UNION ALL
    SELECT l_orderkey, l_quantity, NULL::DOUBLE AS l_extendedprice, l_tax
    FROM lineitem WHERE l_linenumber = 2
    """,
)
def union_outer_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 outer-aligned vertical union (anndata.concat(join="outer"),
    bin/concatenate.py:138-139): unionByName(allowMissingColumns=True)
    null-fills features a member lacks; Catalyst flattens the reduce chain
    into one Union node."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    b = li.filter(F.col("l_linenumber") == 2).select("l_orderkey", "l_quantity", "l_tax")
    return union_outer([a, b]).select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_tax"
    )


@query("agg_count_cells", oracle="SELECT count(*) AS n_cells FROM lineitem")
def agg_count_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 product cell count (bin/concatenate.py:142-143)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_cells"))


@query(
    "agg_collect_lists",
    oracle="""
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS members
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_collect_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 list embedding for the product JSON (uuid/hbmid lists,
    bin/concatenate.py:122-123): deterministic sorted-CSV form — raw
    collect_list order is merge-order-dependent under parallelism."""
    return (
        _t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(collect_sorted_csv("n_name").alias("members"))
    )


@query(
    "agg_first_match",
    oracle="""
    SELECT user_id,
           max(CASE WHEN event_type = 'click' THEN value END) AS click,
           max(CASE WHEN event_type = 'error' THEN value END) AS error,
           max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase,
           max(CASE WHEN event_type = 'signup' THEN value END) AS signup,
           max(CASE WHEN event_type = 'view' THEN value END) AS view
    FROM events GROUP BY user_id
    """,
)
def agg_first_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 concept-list → one column per concept
    (extract_donor_metadata's 52-line loop, make_uuids_tsv.py:91-142):
    explode+pivot with an explicit value list — bounded width, one
    shuffle, map-side partial agg.  Last-wins is replaced by the
    deterministic max (§2.11 quirk: iteration-order dependence)."""
    return first_match_pivot(
        _t(spark, sf_dir, "events"),
        key="user_id",
        concept_col="event_type",
        value_col="value",
        concepts=["click", "error", "purchase", "signup", "view"],
    )


@query(
    "agg_file_size",
    oracle="SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_bytes FROM documents GROUP BY source",
)
def agg_file_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 artifact byte accounting (os.path.getsize,
    bin/concatenate.py:151): grouped integer sum."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("total_bytes"))
    )


@query(
    "limit_page",
    oracle="SELECT o_orderkey, o_custkey FROM orders ORDER BY o_orderkey LIMIT 100",
)
def limit_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 paging window (ES from/size, make_uuids_tsv.py:24-25), pinned to
    a total order so the page is deterministic."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
        .limit(100)
    )


@query(
    "first_match_shortcircuit",
    oracle="""
    SELECT o_custkey, o_orderkey AS first_orderkey FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def first_match_shortcircuit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 first-match (find_files first hit in os.walk order,
    bin/concatenate.py:38-45): deterministic per-group top-1 by explicit
    total order (§2.11 quirk 6)."""
    return first_per_group(
        _t(spark, sf_dir, "orders"),
        partition_by=["o_custkey"],
        order_by=["o_orderdate", "o_orderkey"],
    ).select("o_custkey", F.col("o_orderkey").alias("first_orderkey"))


# ---------------------------------------------------------------------------
# §2.8 Sinks
# ---------------------------------------------------------------------------


@query(
    "sink_tsv",
    oracle="""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS VARCHAR) AS n_regionkey
    FROM nation
    """,
)
def sink_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSV manifest sink (to_csv sep="\\t", make_uuids_tsv.py:164) —
    written by Spark's writer WITHOUT the positional index column (§2.11
    quirk: `Unnamed: 0`), verified by round-trip."""
    from pyspark.sql.types import StringType, StructField, StructType

    out = _call_dir("sink_tsv")
    nat = _t(spark, sf_dir, "nation")
    nat.coalesce(1).write.options(sep="\t", header=True).mode("overwrite").csv(out)
    schema = StructType(
        [StructField(c, StringType(), True) for c in ["n_nationkey", "n_name", "n_regionkey"]]
    )
    return spark.read.options(sep="\t", header=True).schema(schema).csv(out)


@query(
    "sink_metadata_json",
    oracle="""
    SELECT 'atac' AS assay, count(*) AS cell_count, count(DISTINCT o_custkey) AS n_datasets
    FROM orders
    """,
)
def sink_metadata_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-metadata JSON sink (create_json, bin/concatenate.py:81-96):
    single-record JSON written by Spark, verified by round-trip."""
    out = _call_dir("sink_json")
    orders = _t(spark, sf_dir, "orders")
    meta = orders.agg(
        F.lit("atac").alias("assay"),
        F.count("*").alias("cell_count"),
        F.count_distinct("o_custkey").alias("n_datasets"),
    )
    meta.coalesce(1).write.mode("overwrite").json(out)
    return spark.read.schema("assay string, cell_count bigint, n_datasets bigint").json(out)


@query(
    "sink_orc_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/scan round trip: the columnar format surface beyond
    parquet (warehouse interop — Hive/Trino deployments are ORC-heavy).
    Types survive natively (no string casts), split-able and predicate-
    pushdown-capable at scale exactly like the parquet path."""
    out = _call_dir("sink_orc")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    nat.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "sink_partitioned_pruned",
    oracle="""
    SELECT l_orderkey, l_quantity, l_returnflag
    FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def sink_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + partition-pruned read: the layout
    that turns a 100 TB scan into a single-partition scan when the
    filter hits the partition key.  The read-back filter prunes at
    PLANNING time (directory listing), never touching the other
    partitions' files — the pruning itself is plan-asserted in
    tests/test_operators.py."""
    out = _call_dir("sink_part")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(out)
    # schema-explicit read-back: inference needs at least one data file,
    # and a 0-row input writes none (only _SUCCESS) — the declared
    # schema also covers the partition column, whose values still come
    # from the directory names
    back = spark.read.schema(li.schema).parquet(out).where(
        F.col("l_returnflag") == "R"
    )
    return back.select("l_orderkey", "l_quantity", "l_returnflag")


COMPACT_TARGET_BYTES = 8 * 1024 * 1024


@query(
    "sink_compact_small_files",
    oracle="SELECT doc_id, source, n_chars FROM documents",
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: rewrite a fragmented directory (here 64
    shards) into size-targeted files — ceil(bytes / 8 MiB) outputs,
    derived from the actual directory footprint via a FileSystem listing
    (a metadata call, not a data pass).  Fragmentation is THE silent
    100 TB killer: a million 100 KB files turn scan planning and task
    scheduling into the bottleneck long before I/O does.  Values are
    untouched, so the oracle is the identity query; the file-count
    contract is pinned in tests/test_operators.py."""
    frag = os.path.join(_staging_dir("compact"), f"frag_{_uuid.uuid4().hex[:8]}")
    compact = os.path.join(_staging_dir("compact"), f"out_{_uuid.uuid4().hex[:8]}")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    docs.repartition(64).write.mode("overwrite").parquet(frag)

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(frag)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total = fs.getContentSummary(jvm_path).getLength()
    n_files = max(1, -(-total // COMPACT_TARGET_BYTES))

    spark.read.parquet(frag).repartition(int(n_files)).write.mode(
        "overwrite"
    ).parquet(compact)
    return spark.read.parquet(compact)


_CSV_QUOTED_ROWS = [
    ("1", "plain"),
    ("2", "has,comma"),
    ("3", 'has "quote"'),
    ("4", "multi\nline"),
]


@query(
    "scan_csv_quoted",
    oracle=_values_sql(_CSV_QUOTED_ROWS, ["rec_id", "payload"]),
)
def scan_csv_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quoted-CSV scan: embedded delimiters, RFC-4180 doubled quotes and
    in-field newlines (multiLine).  The TSV manifest path never quotes;
    real metadata exports do.  Note multiLine disables file splitting —
    fine for manifests, never for bulk data (use parquet there)."""
    import csv

    out = _staging_dir("csv_quoted")
    path = os.path.join(out, "recs.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["rec_id", "payload"])
        w.writerows(_CSV_QUOTED_ROWS)
    return (
        spark.read.options(header=True, multiLine=True, quote='"', escape='"')
        .schema("rec_id string, payload string")
        .csv(path)
    )


# ---------------------------------------------------------------------------
# Flagship: the reference's core product-build semantics in one plan
# (bin/concatenate.py:119-152 — annotate → union → intersect → join → count)
# ---------------------------------------------------------------------------

_PRODUCT_OBS_ORACLE = """
    SELECT 'ord-' || CAST(o.o_orderkey AS VARCHAR) AS cell_id,
           o.o_custkey AS dataset,
           c.c_name AS donor_name,
           c.c_mktsegment AS donor_segment,
           n.n_name AS nation_name,
           r.r_name AS region_name
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE EXISTS (SELECT 1 FROM lineitem a
                  WHERE a.l_orderkey = o.o_orderkey AND a.l_linenumber % 2 = 1)
      AND EXISTS (SELECT 1 FROM lineitem b
                  WHERE b.l_orderkey = o.o_orderkey AND b.l_linenumber % 2 = 0)
"""


def product_obs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship plan: modality intersection + donor/dim joins.

    Reference semantics transposed onto the synthetic star schema:
    cells=orders, datasets=customers, modality matrices = odd/even
    lineitem slices.  Composition: U1 slices → J1 semi-joins → J2
    broadcast donor join → J3 dim joins → annotate cell_id.
    """
    li = _t(spark, sf_dir, "lineitem")
    # modality intersection as ONE parity rollup (round 13, guide §2.4):
    # the two intersect_keys semi-joins each paid a full distinct
    # aggregation of their lineitem slice (2 scans + 2 exchanges); one
    # groupBy(l_orderkey) computing both parity flags halves both — the
    # map-side partial agg ships (key, 2 bools) per order, and the
    # surviving key set is identical (EXISTS odd AND EXISTS even).
    both = (
        li.select("l_orderkey", (F.col("l_linenumber") % 2).alias("__p"))
        .groupBy("l_orderkey")
        .agg(
            F.max(F.col("__p") == 1).alias("__has_odd"),
            F.max(F.col("__p") == 0).alias("__has_even"),
        )
        .where(F.col("__has_odd") & F.col("__has_even"))
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )

    orders = _t(spark, sf_dir, "orders")
    obs = intersect_keys(orders, both, "o_orderkey")

    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    joined = (
        broadcast_dim_join(obs, cust, obs.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
    )
    return joined.select(
        F.concat(F.lit("ord-"), F.col("o_orderkey").cast("string")).alias("cell_id"),
        F.col("o_custkey").alias("dataset"),
        F.col("c_name").alias("donor_name"),
        F.col("c_mktsegment").alias("donor_segment"),
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
    )


@query("product_build_obs", oracle=_PRODUCT_OBS_ORACLE)
def product_build_obs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return product_obs_plan(spark, sf_dir)


@query(
    "product_cell_count",
    oracle=f"SELECT count(*) AS n_cells FROM ({_PRODUCT_OBS_ORACLE})",
)
def product_cell_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 over the flagship plan (bin/concatenate.py:142-143)."""
    return product_obs_plan(spark, sf_dir).agg(F.count("*").alias("n_cells"))


@query(
    "matrix_pivot_wide",
    oracle="""
    SELECT l_orderkey,
           round(sum(CASE WHEN l_linenumber = 1 THEN l_quantity END), 4) AS "1",
           round(sum(CASE WHEN l_linenumber = 2 THEN l_quantity END), 4) AS "2",
           round(sum(CASE WHEN l_linenumber = 3 THEN l_quantity END), 4) AS "3",
           round(sum(CASE WHEN l_linenumber = 4 THEN l_quantity END), 4) AS "4",
           round(sum(CASE WHEN l_linenumber = 5 THEN l_quantity END), 4) AS "5",
           round(sum(CASE WHEN l_linenumber = 6 THEN l_quantity END), 4) AS "6",
           round(sum(CASE WHEN l_linenumber = 7 THEN l_quantity END), 4) AS "7"
    FROM lineitem GROUP BY l_orderkey
    """,
)
def matrix_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded wide pivot of the long matrix form (SURVEY §4.2 guardrail):
    explicit value list, one hash aggregation, absent pairs null."""
    from .operators.pivot_wide import matrix_to_wide

    wide = matrix_to_wide(
        _t(spark, sf_dir, "lineitem"),
        row_key="l_orderkey",
        col_key="l_linenumber",
        value_col="l_quantity",
        col_values=[1, 2, 3, 4, 5, 6, 7],
    )
    return wide.select(
        "l_orderkey", *[F.round(F.col(f"`{i}`"), 4).alias(str(i)) for i in range(1, 8)]
    )


@query(
    "pipeline_product_metadata",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS cell_count,
           CAST(count(DISTINCT dataset) AS BIGINT) AS dataset_count
    FROM ({_PRODUCT_OBS_ORACLE})
    """,
)
def pipeline_product_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed finalize step (create_json parity,
    bin/concatenate.py:81-96,142-143): product-level aggregates in one
    pass over the flagship plan."""
    return product_obs_plan(spark, sf_dir).agg(
        F.count("*").alias("cell_count"),
        F.count_distinct("dataset").alias("dataset_count"),
    )


@query(
    "pipeline_manifest_build",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS uuid,
           'HBM' || CAST(c_custkey AS VARCHAR) AS hubmap_id,
           CASE WHEN c_custkey % 4 = 0 THEN CAST(c_custkey % 90 + 1 AS VARCHAR)
                ELSE CAST(c_custkey % 90 AS VARCHAR) END AS age,
           CASE WHEN c_custkey % 2 = 0 THEN 'Female' ELSE 'Male' END AS sex,
           CAST(NULL AS VARCHAR) AS height,
           CAST(NULL AS VARCHAR) AS weight,
           CAST(NULL AS VARCHAR) AS bmi,
           CAST(NULL AS VARCHAR) AS cause_of_death,
           CAST(NULL AS VARCHAR) AS race
    FROM customer
    WHERE c_custkey % 5 != 0 AND c_custkey % 3 != 0 AND c_custkey % 7 != 0
    ORDER BY CAST(c_custkey AS VARCHAR) LIMIT 10000
    """,
)
def pipeline_manifest_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full manifest pipeline (entry point 1, make_uuids_tsv.py
    semantics) over hits synthesized from `customer`: ES bool filters
    (type/access/latest-revision) → donor concept arrays exploded +
    pivoted with living>organ last-wins → keyed manifest join.  The
    oracle states the NET semantics; the Spark side actually runs the
    search compiler and the explode/pivot machinery."""
    from .plans.manifest import build_manifest

    c = _t(spark, sf_dir, "customer")
    rec = lambda concept, data_value, term: F.struct(  # noqa: E731
        F.lit(concept).alias("grouping_concept_preferred_term"),
        data_value.alias("data_value") if data_value is not None else F.lit(None).cast("string").alias("data_value"),
        term.alias("preferred_term") if term is not None else F.lit(None).cast("string").alias("preferred_term"),
    )
    key = F.col("c_custkey")
    hits = c.select(
        key.cast("string").alias("uuid"),
        F.concat(F.lit("HBM"), key.cast("string")).alias("hubmap_id"),
        F.when(key % 5 == 0, F.lit("RNAseq")).otherwise(F.lit("ATACseq")).alias("dataset_type"),
        F.when(key % 3 == 0, F.lit("consortium")).otherwise(F.lit("public")).alias("data_access_level"),
        F.when(key % 2 == 0, F.lit("LK")).otherwise(F.lit("RK")).alias("origin_samples_organ"),
        F.when(key % 7 == 0, F.lit("superseded")).alias("next_revision_uuid"),
        F.array(
            rec("Age", (key % 90).cast("string"), None),
            rec("Sex", None, F.when(key % 2 == 0, F.lit("Female")).otherwise(F.lit("Male"))),
        ).alias("organ_donor_data"),
        F.when(
            key % 4 == 0,
            F.array(rec("Age", (key % 90 + 1).cast("string"), None)),
        ).alias("living_donor_data"),
    )
    return build_manifest(hits)


@query("sink_product_dir", oracle=_PRODUCT_OBS_ORACLE)
def sink_product_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-directory sink (the h5mu replacement, SURVEY §1.4/§2.8
    sink_h5mu): write the flagship obs as a parquet product table and
    read it back — the round trip is the check."""
    out = _call_dir("product_dir")
    product_obs_plan(spark, sf_dir).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "sink_h5mu_file",
    oracle="""
    WITH bins AS (SELECT unnest(ARRAY[0,1,2,3,4]) AS b),
    genes AS (SELECT unnest(ARRAY[0,1,2]) AS g)
    SELECT 'atac_cell_by_bin' AS modality,
           n_name AS barcode,
           'bin' || CAST(b AS VARCHAR) AS feature_id,
           CAST(n_nationkey * 100 + b + 1 AS DOUBLE) AS value
    FROM nation, bins WHERE (n_nationkey + b) % 3 = 0
    UNION ALL
    SELECT 'atac_cell_by_gene' AS modality,
           n_name AS barcode,
           'gene' || CAST(g AS VARCHAR) AS feature_id,
           CAST(n_nationkey * 10 + g AS DOUBLE) AS value
    FROM nation, genes WHERE (n_nationkey + g) % 2 = 0
    """,
)
def sink_h5mu_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-file ``.h5mu`` sink + distributed read-back — artifact
    parity with the reference's actual output
    (``mdata.write(f"{output_file_name}.h5mu")``, bin/concatenate.py:150,
    two modalities via ``mu.MuData({"atac_cell_by_bin": …,
    "atac_cell_by_gene": …})``, concatenate.py:100).

    Two deterministic modality COO frames are computed from the nation
    dim IN SPARK, written as ONE MuData container through
    sinks/writers.export_h5mu (intersect-obs semantics, pure-Python
    HDF5 writer, 512-byte MuData user block), then decoded back through
    the DISTRIBUTED seam — binaryFile scan → Arrow-batched mapInPandas
    running sources/hdf5.read_h5mu — and compared against the oracle's
    relational recomputation.  Write AND read of the container format
    are therefore both value-checked end to end."""
    from .sinks.writers import export_h5mu
    from .sources.ingest import (
        H5MU_COO_SCHEMA,
        decode_h5mu_bytes,
        ingest_binary_files,
    )

    nat = _t(spark, sf_dir, "nation")
    bins = spark.range(5).select(F.col("id").alias("b"))
    genes = spark.range(3).select(F.col("id").alias("g"))
    cbb = (
        nat.crossJoin(F.broadcast(bins))
        .where((F.col("n_nationkey") + F.col("b")) % 3 == 0)
        .select(
            F.col("n_name").alias("cell_id"),
            F.concat(F.lit("bin"), F.col("b")).alias("feature_id"),
            (F.col("n_nationkey") * 100 + F.col("b") + 1)
            .cast("double")
            .alias("value"),
        )
    )
    cbg = (
        nat.crossJoin(F.broadcast(genes))
        .where((F.col("n_nationkey") + F.col("g")) % 2 == 0)
        .select(
            F.col("n_name").alias("cell_id"),
            F.concat(F.lit("gene"), F.col("g")).alias("feature_id"),
            (F.col("n_nationkey") * 10 + F.col("g"))
            .cast("double")
            .alias("value"),
        )
    )
    import hashlib as _hashlib

    tag = _hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = _staging_dir(f"h5mu_{tag}")
    path = os.path.join(stage, "atac.h5mu")
    export_h5mu(
        {"atac_cell_by_bin": cbb, "atac_cell_by_gene": cbg},
        path,
        uns={"uuid": "product-0", "datasets": ["HBM-TEST"]},
    )
    coo = ingest_binary_files(spark, path, decode_h5mu_bytes, H5MU_COO_SCHEMA)
    return coo.select("modality", "barcode", "feature_id", "value")


@query(
    "sink_h5mu_file_gzip",
    oracle="""
    SELECT 'embeddings' AS modality,
           'v' || lpad(CAST(vec_id AS VARCHAR), 6, '0') AS barcode,
           'd' || lpad(CAST(generate_subscripts(embedding, 1) - 1
                            AS VARCHAR), 2, '0') AS feature_id,
           CAST(unnest(embedding) AS DOUBLE) AS value
    FROM (SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT 1024)
    """,
)
def sink_h5mu_file_gzip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed ``.h5mu`` sink + distributed read-back at BENCH
    scale (VERDICT r06 task 4) — ``mdata.write(..., compression="gzip")``
    parity on top of sink_h5mu_file's container parity
    (bin/concatenate.py:150).

    A real matrix this time: the lowest 1024 embedding vectors (dim 64 →
    65,536 nonzeros at sf0.1) exploded to COO in Spark, exported as ONE
    MuData container whose /mod X arrays are deflate chunk-filtered
    (single-filter pipeline — h5py's ``compression="gzip"`` default,
    which mudata passes through), then decoded back through the
    distributed binaryFile → Arrow mapInPandas seam (sources/hdf5.py's
    filter-pipeline decode: zlib per chunk).  Values survive the full
    compress → decompress round trip bit-exactly, checked against the
    oracle's relational recomputation.

    SCALE CONTRACT: same as sink_h5mu_file — a .h5mu is one file, the
    dataset-scoped interchange artifact (the cap keeps driver assembly
    bounded and the bench row honest); the parquet product dir remains
    the 100 TB path."""
    from .sinks.writers import export_h5mu
    from .sources.ingest import (
        H5MU_COO_SCHEMA,
        decode_h5mu_bytes,
        ingest_binary_files,
    )

    emb = _t(spark, sf_dir, "embeddings")
    coo = (
        emb.orderBy("vec_id")
        .limit(1024)
        .select(
            F.concat(
                F.lit("v"), F.lpad(F.col("vec_id").cast("string"), 6, "0")
            ).alias("cell_id"),
            F.posexplode("embedding").alias("dim", "comp"),
        )
        .select(
            "cell_id",
            F.concat(
                F.lit("d"), F.lpad(F.col("dim").cast("string"), 2, "0")
            ).alias("feature_id"),
            F.col("comp").cast("double").alias("value"),
        )
    )
    import hashlib as _hashlib

    tag = _hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = _staging_dir(f"h5mu_gz_{tag}")
    path = os.path.join(stage, "embeddings.h5mu")
    export_h5mu({"embeddings": coo}, path, compression="gzip")
    coo_back = ingest_binary_files(
        spark, path, decode_h5mu_bytes, H5MU_COO_SCHEMA
    )
    return coo_back.select("modality", "barcode", "feature_id", "value")


# ---------------------------------------------------------------------------
# Ingestion robustness scans
# ---------------------------------------------------------------------------

_JSONL_GOOD = [
    (1, "alpha", 10),
    (2, "beta", 20),
    (4, "delta", 40),
]


@query(
    "scan_jsonl_corrupt_tolerant",
    oracle=_values_sql(
        [(i, s, v, 0) for i, s, v in _JSONL_GOOD] + [(None, None, None, 1)],
        ["rec_id", "name", "value", "is_corrupt"],
    ),
)
def scan_jsonl_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant JSONL scan: PERMISSIVE mode quarantines
    malformed lines into _corrupt_record instead of failing the job —
    at 100 TB a single bad line must never kill a scan, and the
    quarantine column is the dead-letter audit.  Schema is explicit
    (never inferSchema over the corpus: that is a full extra pass)."""
    out = _staging_dir("jsonl_corrupt")
    path = os.path.join(out, "recs.jsonl")
    with open(path, "w") as f:
        for rec_id, name, value in _JSONL_GOOD:
            f.write('{"rec_id": %d, "name": "%s", "value": %d}\n' % (rec_id, name, value))
            if rec_id == 2:
                f.write('{"rec_id": 3, "name": "gamma", "value": BROKEN\n')
    df = spark.read.schema(
        "rec_id bigint, name string, value bigint, _corrupt_record string"
    ).option("mode", "PERMISSIVE").json(path)
    return df.select(
        "rec_id",
        "name",
        "value",
        F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0).alias(
            "is_corrupt"
        ),
    )


@query(
    "scan_parquet_schema_evolution",
    oracle="""
    SELECT * FROM (VALUES
      (1, 'a', 10), (2, 'b', 20), (3, 'c', NULL), (4, 'd', NULL)
    ) AS t(rec_id, name, score)
    """,
)
def scan_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: two parquet generations (the newer added
    a column) read as ONE table with mergeSchema — old files surface
    NULL for the added column.  This is how a 100 TB table takes a
    schema change without rewriting history; the merge cost is
    footer-only, and an explicit schema pin (not shown) makes it free."""
    out = _staging_dir("schema_evo") + f"/{_uuid.uuid4().hex[:8]}"
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "rec_id bigint, name string, score bigint"
    )
    old = spark.createDataFrame([(3, "c"), (4, "d")], "rec_id bigint, name string")
    new.write.parquet(out + "/gen2")
    old.write.parquet(out + "/gen1")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out + "/gen1", out + "/gen2")
        .select("rec_id", "name", "score")
    )
