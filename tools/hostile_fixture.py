"""Build the adversarial-input fixture: hostile documents, embeddings,
and events.

The driver's synthetic tables are tame, so the oracle gate never
exercises the places Spark and DuckDB can legitimately disagree or an
operator can crash.  This fixture packs those places into
schema-identical tables (remaining tables copied unchanged) so
`tools/check_correctness.py` runs each key's Spark plan AND DuckDB
oracle side-by-side on hostile input:

- documents: astral-plane code points, casing traps (Turkish İ, final
  sigma — the one DOCUMENTED checker divergence; drop those two docs
  to test everything else), combining vs precomposed forms, zero-width
  chars, embedded NUL/C0 controls, RTL scripts, ZWJ emoji, whitespace
  zoo, degenerate/huge docs, NULL text/lang/source rows; two sources
  with duplicated docs feed the dedup keys.
- embeddings: zero vectors, domain-edge magnitudes (|x| ≤ ~1e6 — the
  int64 second-moment headroom contract), one-hot/constant/alternating
  shapes.
- events: pre-1970 wall clocks (floor-day trap), the epoch ±1µs,
  timestamp ties, session-gap boundary hits, NULL ts/user/type/value/
  props, malformed JSON, domain-edge values.

    python tools/hostile_fixture.py /tmp/sf_hostile
    python tools/check_correctness.py /tmp/sf_hostile text_lang_id ...

The per-suite battery over this fixture is
tests/test_hostile_parity.py.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

SRC = "/root/testdata/sf0.001"

HOSTILE = [
    "",                                         # empty
    " ",                                        # lone space
    "\t\n\r  \x0b\x0c",                         # whitespace zoo
    "café résumé naïve",    # latin-1 accents (NFC)
    "café",                               # combining accent (NFD)
    "é" * 300,                             # long accented run
    "日本語のテキストです。これはテストです。",  # CJK
    "العربية نص من اليمين إلى اليسار",          # RTL Arabic
    "עברית טקסט",                               # RTL Hebrew
    "😀😃😄😁 emoji 🎉🎊 test 🚀",               # emoji BMP+astral
    "👨‍👩‍👧‍👦 family ZWJ sequence",
    "𝕳𝖊𝖑𝖑𝖔 𝖂𝖔𝖗𝖑𝖉 mathematical alphanumerics",   # astral plane
    "a\x00b embedded nul",                      # NUL inside text
    "control \x01\x02\x03\x1f chars",           # C0 controls
    "ｆｕｌｌｗｉｄｔｈ　text",  # fullwidth
    "İstanbul ı I i dotted dotless",  # turkish casing trap
    "ß sharp s STRASSE straße",       # german casing trap
    "ΣΙΣΥΦΟΣ σίσυφος ς",  # greek final sigma
    "supercalifragilistic" * 40,                # one 800-char token
    "word " * 500,                              # 500 identical tokens
    "​‌‍ zero width ﻿",     # ZW chars + BOM
    "line1\nline2\rline3\r\nline4",             # newline zoo
    "tab\tseparated\tfields",
    "quote \" double ' single ` backtick",
    "back\\slash re$gex [chars] (paren) {brace} |pipe| ^caret .dot *star +plus ?q",
    "<html><body>markup &amp; entities</body></html>",
    "email test@example.com phone 555-123-4567 ssn 123-45-6789",  # PII shapes
    "MIT License permission is hereby granted free of charge",    # license text
    "the quick brown fox jumps over the lazy dog",                # plain english
    "a" * 40,                                                     # repetition
    "ab" * 400,                                                   # bigram repetition
    "Ω≈ç√∫ math symbols ∑∏π",
    "🏳️‍🌈 flag sequence 🇺🇸 🇯🇵 regional indicators",
    "mixed 日本語 and English and العربية in one doc",
    " private use ",          # PUA
    "ǅungla titlecase ǈǋǲ digraphs",
    "ﬁﬂ ligatures oﬃce",         # ligatures
    "x" * 5000,                                 # long single run
    "𠜎𠜱𡿺𪛕 rare CJK ext-B",                   # astral CJK
    "ñ combining tilde vs ñ precomposed",
]

# Hostile documents that clear the corpus quality gate (>= 100 chars,
# stop-word ratio >= 0.05, mean token length <= 5.5), so the keys that
# gate first (corpus_training_manifest, corpus_pipeline_e2e) grade rows,
# not two empty results.  Pairs collide after normalisation: the first
# two differ only in case and whitespace, the digit pair only in digits.
GATE_PASSING = [
    "The  cat\tsat on the mat.\r\nA dog ran to the park,\fand the bird "
    "sang a song in the old tree by the lake at dawn.",
    "THE CAT SAT ON THE MAT. A DOG RAN TO THE PARK, AND THE BIRD SANG A "
    "SONG IN THE OLD TREE BY THE LAKE AT DAWN.",
    # a vertical tab and a no-break space are not token breaks
    "a\x0bb the cat sat on a mat in the sun, the dog ran\u00a0to a tree "
    "and the kid sat by a lake to read a book all day.",
    "On day 1 the 2 kids saw a 300 ants and the 45 cats ran to a park "
    "with 6 dogs at 7 am in the 2024 fair.",
    "On day 9 the 8 kids saw a 700 ants and the 12 cats ran to a park "
    "with 3 dogs at 5 am in the 1999 fair.",
    # a tab is not trimmed: empty first and last tokens
    "\tthe end of a line is not the end of a text: a tab at the start "
    "and a space at the end stay as they are \t",
]
# gate-passing documents with a NULL lang and a NULL source, distinct
# after normalisation, so a NULL source group survives the dedup
GATE_PASSING_NULLS = (
    "a doc with no lang still has to pass the gate; the text is long, "
    "and it has a few of the stop words in it.",
    "a doc with no source still has to pass the gate; the text is long, "
    "and it has a few of the stop words in it.",
)


# The one DOCUMENTED checker divergence (docs/OPERATIONS.md): Spark
# applies Unicode FULL/contextual case mapping (Turkish İ → 'i̇', Greek
# final sigma ς) where DuckDB lower() applies SIMPLE mapping.  Spark is
# the spec-correct one.  Docs containing these markers are the only
# fixture rows that trigger it; CASE_MAPPING_EXEMPT is the closed list
# of keys that diverge ONLY through them (asserted exact — both
# directions — by tools/hostile_scan.py, consumed by
# tests/test_hostile_parity.py).
CASE_TRAP_MARKERS = ("İstanbul", "ΣΙΣΥΦΟΣ")

CASE_MAPPING_EXEMPT = {
    "corpus_chunk_overlap",
    "corpus_doc_embedding_hashed",
    "corpus_normalize_redact",
    "corpus_tfidf_topk",
    "corpus_tokenizer_fertility",
    "corpus_vocab_coverage",
    "dedup_minhash_signature",
    "dedup_simhash",
    "doc_fingerprint",
    "doc_fingerprint_rolling",
    "text_feature_hashing",
    "text_keyword_rake",
    "text_token_count_bpe",
    "udtf_term_positions",
}


def build(
    dest: str,
    source: str = SRC,
    with_nulls: bool = True,
    include_case_traps: bool = True,
) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    Path(dest).mkdir(parents=True, exist_ok=True)
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem",
    ]:
        shutil.copy(f"{source}/{t}.parquet", f"{dest}/{t}.parquet")
    pq_write_events(dest)
    docs = [
        t
        for t in HOSTILE + GATE_PASSING
        if include_case_traps or not any(m in t for m in CASE_TRAP_MARKERS)
    ]
    rows = [(i, t, "xx", "hostile_a", len(t)) for i, t in enumerate(docs)]
    rows += [
        (1000 + i, t, "xx", "hostile_b", len(t))
        for i, t in enumerate(docs[:15])
    ]
    if with_nulls:
        # NULL text / lang / source: any column a lake can deliver NULL,
        # an operator must handle without crashing or engine drift
        rows += [
            (2000, None, "xx", "hostile_a", 0),
            (2001, "plain text with null lang", None, "hostile_a", 25),
            (2002, "plain text with null source", "xx", None, 27),
            (2003, GATE_PASSING_NULLS[0], None, "hostile_a", len(GATE_PASSING_NULLS[0])),
            (2004, GATE_PASSING_NULLS[1], "xx", None, len(GATE_PASSING_NULLS[1])),
        ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{dest}/documents.parquet")
    pq.write_table(_hostile_embeddings(), f"{dest}/embeddings.parquet")
    return tbl.num_rows


def pq_write_events(dest: str) -> None:
    """Adversarial events: pre-1970 wall clocks (negative epochs — the
    truncate-vs-floor day-index trap), the epoch itself ±1µs, timestamp
    ties, NULL ts/user/type/value/props, malformed and non-object JSON
    props, single-event users, exact session-gap boundaries, and value
    extremes inside the integer-cents domain."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    E = dt.datetime(1970, 1, 1)
    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, dt.datetime(1950, 6, 15, 12, 0, 0), 1, "click", 1.0, '{"k": 1}'),
        (2, dt.datetime(1969, 12, 31, 23, 59, 59, 999999), 1, "view", 2.0, '{"k": 2}'),
        (3, E, 1, "purchase", 3.0, '{"k": 3}'),
        (4, E + dt.timedelta(microseconds=1), 1, "click", 4.0, '{"k": 4}'),
        (5, E - dt.timedelta(microseconds=1), 2, "click", 5.0, '{"k": 5}'),
        # same-instant tie, distinct event_ids
        (6, dt.datetime(2024, 1, 5, 10, 0, 0), 2, "view", 6.0, '{"k": 6}'),
        (7, dt.datetime(2024, 1, 5, 10, 0, 0), 2, "click", 7.0, '{"k": 7}'),
        # exact 30-minute session gap boundary
        (8, dt.datetime(2024, 1, 5, 10, 30, 0), 2, "view", 8.0, '{"k": 8}'),
        # NULLs in every nullable slot
        (9, None, 3, "click", 9.0, '{"k": 9}'),
        (10, dt.datetime(2024, 1, 6, 9, 0, 0), None, "view", 10.0, '{"k": 10}'),
        (11, dt.datetime(2024, 1, 6, 9, 1, 0), 3, None, 11.0, '{"k": 11}'),
        (12, dt.datetime(2024, 1, 6, 9, 2, 0), 3, "purchase", None, '{"k": 12}'),
        (13, dt.datetime(2024, 1, 6, 9, 3, 0), 3, "click", 13.0, None),
        # hostile JSON props
        (14, dt.datetime(2024, 1, 6, 9, 4, 0), 4, "view", 14.0, ""),
        (15, dt.datetime(2024, 1, 6, 9, 5, 0), 4, "click", 15.0, "not json"),
        (16, dt.datetime(2024, 1, 6, 9, 6, 0), 4, "view", 16.0, '{"broken'),
        (17, dt.datetime(2024, 1, 6, 9, 7, 0), 4, "click", 17.0, '{"k": "str"}'),
        (18, dt.datetime(2024, 1, 6, 9, 8, 0), 4, "view", 18.0, '{"k": null}'),
        (19, dt.datetime(2024, 1, 6, 9, 9, 0), 4, "click", 19.0, "[1, 2, 3]"),
        (20, dt.datetime(2024, 1, 6, 9, 10, 0), 4, "view", 20.0, '{"k": {"n": 1}}'),
        # value extremes (integer-cents SECOND-MOMENT domain edge: keys
        # sum exact cents-squared products, so |v| ≤ ~1e6 is the loader
        # gate, mirroring the embeddings' quantization domain)
        (21, dt.datetime(2024, 1, 7, 0, 0, 0), 5, "purchase", 1e6, '{"k": 21}'),
        (22, dt.datetime(2024, 1, 7, 1, 0, 0), 6, "purchase", -99.99, '{"k": 22}'),
        (23, dt.datetime(2024, 1, 7, 2, 0, 0), 7, "error", 0.0, '{"k": 23}'),
        (24, dt.datetime(9999, 12, 31, 23, 59, 59), 7, "view", 24.0, '{"k": 24}'),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, f"{dest}/events.parquet")


def _hostile_embeddings():
    """Adversarial embeddings: zero vectors (cosine divides by a zero
    norm), large/tiny magnitudes, negative-only, one-hot, and constant
    vectors — every row still a well-formed 64-float list inside the
    engine's declared input domain: finite floats with |x| ≤ ~1e6
    (NaN/Inf stay out because the two engines' NaN ORDERING differs by
    design, and the fixed-point operators — kmeans' 1e-6 quantization,
    the hashed-embedding 1e-9 idf terms — have an int64 headroom
    contract that 1e30 coordinates overflow by design; finiteness and
    magnitude are the LOADER's gate, not every query's).  vec_id 0
    stays a normal query vector."""
    import pyarrow as pa

    dim = 64
    vecs: list[list[float]] = []
    vecs.append([0.1 * ((i % 7) - 3) for i in range(dim)])   # 0: query
    vecs.append([0.0] * dim)                                 # zero vector
    vecs.append([1e6] * dim)                                 # domain-edge large
    vecs.append([1e-30] * dim)                               # tiny
    vecs.append([-1.0] * dim)                                # negative
    vecs.append([1.0] + [0.0] * (dim - 1))                   # one-hot
    vecs.append([1.0] * dim)                                 # constant
    vecs.append([(-1.0) ** i for i in range(dim)])           # alternating
    vecs.append([float(i) for i in range(dim)])              # ramp
    vecs.append([-1e6] * dim)                                # negative domain edge
    ids = list(range(len(vecs)))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in ids], pa.int32()),
        }
    )


if __name__ == "__main__":
    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf_hostile"
    print(f"{build(dest)} hostile documents -> {dest}")
