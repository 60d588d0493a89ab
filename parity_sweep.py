"""Driver-style correctness sweep: run every registry query at a given SF,
compare against its DuckDB oracle with the driver's strict normalization,
and time both sides per query.

Usage:
    python parity_sweep.py [sf_dir]            sweep a parquet dir
    python parity_sweep.py --corpus KIND [src] build a degenerate corpus
                                               from src (default sf0.001)
                                               under /tmp and sweep it

KIND is one of: empty (zero-row), one (one-row), nulls (half-NULL
non-key columns), nullkeys (join/group keys NULL on every 4th row),
dup (every fact row doubled), megakey (hottest key owns everything),
dupmega (megakey THEN every fact row doubled — duplicate keys inside
one mega partition), extremes (NaN/±Inf/±1e300 float edges in
events.value; zero-norm / NaN- / Inf- / NULL-component embedding
vectors),
unicode (encoding-edge text in documents.text: astral plane, combining
marks, RTL/bidi, zero-width chars, U+FFFD/controls, exotic whitespace,
fullwidth forms, unsegmented CJK), tsedges (timestamp edges in
events.ts: pre-epoch, exact epoch-0, the int64-nanos 2262 boundary,
far-future 9999, plus in-domain leap-day/DST/midnight-microsecond
edges) — the ten robustness classes ledgered in DEGENERATE.md. Plain sweeps write SWEEP_DETAIL.json;
corpus sweeps write SWEEP_DETAIL_<KIND>.json so a probe run never
clobbers the standard-corpus artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import multimodal
from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import REGISTRY
from aws_glue_pyspark_incrementality_and_parallelism_spark.session import build_spark
from tests.oracle import driver_canonicalize, duckdb_rows, normalize


TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

#: Non-key columns NULLed on alternating rows by the `nulls` corpus.
NULLABLE = {
    "documents": ["text", "lang", "source"],
    "events": ["event_type", "value", "props"],
    "orders": ["o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    "customer": ["c_name", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_name", "s_acctbal"],
    "part": ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "embeddings": ["embedding", "label"],
}

#: Fact tables doubled by the `dup` corpus (dims stay intact).
DUP_FACTS = {"orders", "lineitem", "events", "documents", "embeddings"}

#: JOIN/GROUP key columns NULLed on every 4th row by the `nullkeys`
#: corpus. The `nulls` corpus deliberately keeps keys intact (it probes
#: NULL measures/attributes); this one probes the OTHER production
#: hazard — NULL foreign/grouping keys, which inner joins drop, groupBy
#: collapses into a NULL group, window partitions isolate, and the
#: pandas/Arrow lanes surface as float64 NaN (a nullable int64 key
#: column crosses the Arrow boundary as floats). Row-identity primary
#: keys (event_id, doc_id, vec_id, o_orderkey, l_linenumber) stay
#: intact — a feed that loses its row ids is a different failure.
NULLKEY = {
    "events": ["user_id"],
    "orders": ["o_custkey"],
    "lineitem": ["l_partkey", "l_suppkey"],
}


def build_corpus(kind: str, src: str, dst: str) -> str:
    """Materialize one of the ten degenerate corpora (the first seven
    share recipes with the pytest fixtures in tests/test_extensions.py)
    into dst."""
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()

    def copy(table: str, select_sql: str) -> None:
        con.execute(f"COPY ({select_sql}) TO '{dst}/{table}.parquet' (FORMAT parquet)")

    for t in TABLES:
        base = f"SELECT * FROM '{src}/{t}.parquet'"
        if kind == "empty":
            copy(t, base + " LIMIT 0")
        elif kind == "one":
            copy(t, base + " LIMIT 1")
        elif kind == "nulls":
            cols = [d[0] for d in con.execute(base + " LIMIT 0").description]
            exprs = [
                f"CASE WHEN (ROW_NUMBER() OVER ()) % 2 = 0 THEN NULL ELSE {c} END AS {c}"
                if c in NULLABLE.get(t, []) else c
                for c in cols
            ]
            copy(t, f"SELECT {', '.join(exprs)} FROM '{src}/{t}.parquet'")
        elif kind == "nullkeys":
            cols = [d[0] for d in con.execute(base + " LIMIT 0").description]
            exprs = [
                f"CASE WHEN (ROW_NUMBER() OVER ()) % 4 = 0 THEN NULL ELSE {c} END AS {c}"
                if c in NULLKEY.get(t, []) else c
                for c in cols
            ]
            copy(t, f"SELECT {', '.join(exprs)} FROM '{src}/{t}.parquet'")
        elif kind == "extremes":
            # Float-edge corpus: NaN/±Inf and magnitude extremes in
            # events.value; zero-norm / NaN-component / Inf-component /
            # NULL-component embedding vectors. The shapes that break
            # cosine math (zero-norm division), ANSI arithmetic, NaN
            # ordering, and three-valued array-lambda logic.
            if t == "events":
                copy(t, f"""
                    SELECT event_id, ts, user_id, event_type,
                           CASE WHEN event_id % 7 = 0 THEN 'NaN'::DOUBLE
                                WHEN event_id % 11 = 0 THEN 'Infinity'::DOUBLE
                                WHEN event_id % 13 = 0 THEN '-Infinity'::DOUBLE
                                WHEN event_id % 17 = 0 THEN 1e300
                                WHEN event_id % 19 = 0 THEN -1e300
                                WHEN event_id % 23 = 0 THEN 1e-300
                                ELSE value END AS value,
                           props
                    FROM '{src}/{t}.parquet'""")
            elif t == "embeddings":
                copy(t, f"""
                    SELECT vec_id,
                           CASE WHEN vec_id % 7 = 0
                                THEN list_transform(embedding, x -> 0.0::FLOAT)
                                WHEN vec_id % 11 = 0
                                THEN list_append(embedding[:len(embedding)-1], 'NaN'::FLOAT)
                                WHEN vec_id % 13 = 0
                                THEN list_append(embedding[:len(embedding)-1], 'Infinity'::FLOAT)
                                WHEN vec_id % 17 = 0
                                THEN list_append(embedding[:len(embedding)-1], NULL::FLOAT)
                                ELSE embedding END AS embedding,
                           label
                    FROM '{src}/{t}.parquet'""")
            else:
                copy(t, base)
        elif kind == "tsedges":
            # Timestamp-edge corpus (round 9, tenth robustness class):
            # the time pipeline's analogue of `extremes`. Out-of-domain
            # shapes (quarantined by the Class T temporal ingest gate):
            # pre-epoch 1905, the EXACT epoch-0 instant (the classic
            # zeroed-field garbage marker — one such row is also the
            # streaming-watermark poison pill), the int64-nanos
            # overflow boundary 2262-04-11, and far-future 9999 (one
            # row makes every observed-span sequence grid explode:
            # min→max hourly span ≈ 70M hours per series ungated).
            # In-domain edges (kept — they probe bucket/window/leap
            # semantics cross-engine): leap-day final microsecond,
            # a DST-transition instant (UTC sessions must not care),
            # and the first microsecond after midnight Jan 1.
            if t == "events":
                copy(t, """
                    SELECT event_id,
                           CASE WHEN event_id % 7  = 0 THEN TIMESTAMP '1905-03-15 07:30:00'
                                WHEN event_id % 11 = 0 THEN TIMESTAMP '1970-01-01 00:00:00'
                                WHEN event_id % 13 = 0 THEN TIMESTAMP '2262-04-11 23:47:16.854775'
                                WHEN event_id % 17 = 0 THEN TIMESTAMP '9999-12-31 23:59:59.999999'
                                WHEN event_id % 19 = 0 THEN TIMESTAMP '2024-02-29 23:59:59.999999'
                                WHEN event_id % 23 = 0 THEN TIMESTAMP '2024-03-10 10:00:00'
                                WHEN event_id % 29 = 0 THEN TIMESTAMP '2024-01-01 00:00:00.000001'
                                ELSE ts END AS ts,
                           user_id, event_type, value, props
                    FROM '{src}/{t}.parquet'""".replace("{src}", src).replace("{t}", t))
            else:
                copy(t, base)
        elif kind == "unicode":
            # Unicode/encoding-edge text corpus (round-9 stretch task):
            # the last untested input class for the text pipeline. Eight
            # shapes injected into documents.text on doc_id residues:
            # astral-plane emoji + flags + math alphanumerics (chars
            # above U+FFFF — surrogate pairs in any UTF-16 lane),
            # combining marks (NFD-style e + U+0301 — length vs grapheme
            # traps), RTL Hebrew/Arabic with bidi marks, zero-width
            # joiners/non-joiners/ZWSP inside words (tokenizer traps),
            # U+FFFD + C0 controls (the residue a lossy decode leaves),
            # exotic whitespace (NBSP, ideographic space, thin space —
            # \s-class divergence bait), fullwidth digits/latin
            # (case/digit-class bait), and an unsegmented CJK run (no
            # whitespace at all). lang/source/doc_id stay intact;
            # n_chars is recomputed (both engines count code points).
            if t == "documents":
                zwj = "‍"
                zwnj = "‌"
                zwsp = "​"
                nfd = "café résumé naïve"
                rtl = "שלום السلام ‏mixed‎ tail"
                astral = "\U0001f600\U0001f680 \U0001f1fa\U0001f1f8 \U0001d54a\U0001d554\U0001d556 \U00020000\U00020001"
                ctrl = "bad�decode \x01tab\ttail"
                wsp = "a b　c d e"
                full = "０１２ ＡＢＣ ａｂｃ"
                cjk = "汉字文本解析测试文档" * 3
                wordjoin = f"zero{zwj}width{zwnj}join{zwsp}er test"
                cases = f"""
                    CASE WHEN doc_id % 7 = 0 THEN text || ' {astral}'
                         WHEN doc_id % 11 = 0 THEN '{nfd} ' || text
                         WHEN doc_id % 13 = 0 THEN '{rtl} ' || text
                         WHEN doc_id % 17 = 0 THEN '{wordjoin} ' || text
                         WHEN doc_id % 19 = 0 THEN '{ctrl} ' || text
                         WHEN doc_id % 23 = 0 THEN '{wsp} ' || text
                         WHEN doc_id % 29 = 0 THEN '{full} ' || text
                         WHEN doc_id % 31 = 0 THEN '{cjk}'
                         ELSE text END"""
                copy(t, f"""
                    SELECT doc_id, {cases} AS text, lang, source,
                           length({cases}) AS n_chars
                    FROM '{src}/{t}.parquet'""")
            else:
                copy(t, base)
        elif kind == "dup":
            copy(t, f"{base} UNION ALL {base}" if t in DUP_FACTS else base)
        elif kind == "megakey":
            copy(t, _megakey_select(con, src, t, base))
        elif kind == "dupmega":
            # Sixth robustness class (round-7 verdict stretch task):
            # duplicate rows UNDER mega-key skew — the megakey corpus
            # (hottest key owns everything) with every FACT row then
            # doubled, so the salted paths' tie handling and the dedup
            # lanes' multiplicity semantics are probed SIMULTANEOUSLY
            # (duplicate primary keys inside one mega partition).
            # MATERIALIZE the megakey table first, then double the
            # parquet: `sel UNION ALL sel` would re-evaluate the
            # transform's order-free `first(...) OVER ()` picks
            # independently per branch, so the two halves could carry
            # DIFFERENT "the same" vectors/sources — the doubled rows
            # must be exact twins of one materialized corpus (the
            # pytest fixture composes the recipes the same way).
            sel = _megakey_select(con, src, t, base)
            if t in DUP_FACTS:
                # Stage OUTSIDE the corpus dir and clean up even when the
                # doubling COPY throws — a stray *.stage.parquet inside
                # dst would be swept up by later directory globs.
                import tempfile

                fd, stage = tempfile.mkstemp(suffix=f"_{t}.stage.parquet")
                os.close(fd)
                try:
                    con.execute(f"COPY ({sel}) TO '{stage}' (FORMAT parquet)")
                    copy(t, f"SELECT * FROM '{stage}' UNION ALL SELECT * FROM '{stage}'")
                finally:
                    os.remove(stage)
            else:
                copy(t, sel)
        else:
            raise SystemExit(f"unknown corpus kind: {kind}")
    return dst


def _megakey_select(con, src: str, t: str, base: str) -> str:
    """The mega-key transform as a SELECT (shared by the `megakey` and
    `dupmega` corpora): one user owns every event, one customer every
    order, one (part, supplier) every lineitem row, every document the
    SAME text, every embedding the SAME vector; primary keys stay
    unique, schemas exact."""
    txt = ("the quick brown fox jumps over the lazy dog "
           "and runs far away fast")
    if t == "documents":
        return (f"SELECT doc_id, '{txt}' AS text, 'en' AS lang,"
                f" first(source) OVER () AS source,"
                f" CAST({len(txt)} AS BIGINT) AS n_chars"
                f" FROM '{src}/{t}.parquet'")
    if t == "events":
        return (f"SELECT event_id, ts, CAST(1 AS BIGINT) AS user_id,"
                f" event_type, value, props FROM '{src}/{t}.parquet'")
    if t == "orders":
        cols = [d[0] for d in con.execute(base + " LIMIT 0").description]
        sel = ", ".join(
            "CAST(1 AS BIGINT) AS o_custkey" if c == "o_custkey"
            else "'3-MEDIUM' AS o_orderpriority" if c == "o_orderpriority"
            else c for c in cols)
        return f"SELECT {sel} FROM '{src}/{t}.parquet'"
    if t == "lineitem":
        cols = [d[0] for d in con.execute(base + " LIMIT 0").description]
        sel = ", ".join(
            "CAST(1 AS BIGINT) AS l_partkey" if c == "l_partkey"
            else "CAST(1 AS BIGINT) AS l_suppkey" if c == "l_suppkey"
            else c for c in cols)
        return f"SELECT {sel} FROM '{src}/{t}.parquet'"
    if t == "embeddings":
        return (f"SELECT vec_id, first(embedding) OVER () AS embedding,"
                f" first(label) OVER () AS label FROM '{src}/{t}.parquet'")
    return base


def main() -> None:
    detail_name = "SWEEP_DETAIL.json"
    if len(sys.argv) > 1 and sys.argv[1] == "--corpus":
        kind = sys.argv[2]
        src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"
        sf_dir = build_corpus(kind, src, f"/tmp/sf_{kind}_sweep")
        detail_name = f"SWEEP_DETAIL_{kind.upper()}.json"
    else:
        sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_spark(app_name="parity-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    for name, spec in REGISTRY.items():
        row = {"oracle": spec.oracle is not None}
        t0 = time.monotonic()
        try:
            sdf = spec.fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            row["spark_sec"] = round(time.monotonic() - t0, 3)
            row["rows"] = len(s_rows)
        except Exception as e:  # noqa: BLE001
            row["error"] = f"spark: {type(e).__name__}: {e}"[:300]
            results[name] = row
            print(json.dumps({"q": name, **row}), flush=True)
            continue
        if spec.oracle is not None:
            t1 = time.monotonic()
            try:
                o_cols, o_rows = duckdb_rows(spec.oracle, sf_dir)
                row["oracle_sec"] = round(time.monotonic() - t1, 3)
                ok_cols = sorted(s_cols) == sorted(o_cols)
                ok_rows = len(s_rows) == len(o_rows)
                ok_vals = ok_cols and ok_rows and (
                    normalize(s_cols, s_rows) == normalize(o_cols, o_rows)
                )
                # The driver's pandas sort+hash dies on non-scalar cells even
                # when values match — reproduce that failure mode here.
                driver_canonicalize(s_cols, s_rows)
                driver_canonicalize(o_cols, o_rows)
                row.update(cols_match=ok_cols, count_match=ok_rows, value_match=ok_vals)
            except Exception as e:  # noqa: BLE001
                row["error"] = f"oracle: {type(e).__name__}: {e}"[:300]
        results[name] = row
        print(json.dumps({"q": name, **row}), flush=True)
        # drop any attempted-decode caches this query persisted — a
        # 368-query sweep must not accumulate per-query cached lanes
        multimodal.release_decode_caches()
    spark.stop()

    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name), "w") as f:
        json.dump({"sf_dir": sf_dir, "results": results}, f, indent=1, sort_keys=True)
    n_oracle = sum(1 for r in results.values() if r["oracle"])
    n_pass = sum(1 for r in results.values() if r.get("value_match"))
    n_err = sum(1 for r in results.values() if "error" in r)
    total = sum(r.get("spark_sec", 0) + r.get("oracle_sec", 0) for r in results.values())
    print(json.dumps({
        "summary": True, "sf_dir": sf_dir, "queries": len(results),
        "oracled": n_oracle, "value_pass": n_pass, "errors": n_err,
        "total_sec": round(total, 1),
    }))


if __name__ == "__main__":
    main()
