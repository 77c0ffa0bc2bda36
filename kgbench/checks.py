"""Output checks, run after each timed window; each failure counts toward
``error_rate``.

- build: sampled urls' ``norm_text.text_norm`` is byte-identical to the
  in-process ``punctuate_one`` (the north-rule invariant), their
  ``triples_raw`` rows equal ``doc_triples``, and each stage manifest's
  ``row_count`` equals the sum of its lineage rows;
- query: every call's rows equal an independent DuckDB evaluation over
  the same edges parquet;
- ingest: for every landed segment, the streamed ``batch_id=*`` output
  equals, by multiset checksum, one batch run of the same kgforge stages
  over the landed documents.
"""

from __future__ import annotations

import json
import os

import duckdb

BUILD_SAMPLE = 16


def _duck(work: str | None = None):
    con = duckdb.connect()
    if work:
        con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    return con


# -- build --------------------------------------------------------------------


def expected_doc(row: dict) -> tuple[str, list[tuple]]:
    """In-process reference for one document: (text_norm, sorted triples)."""
    from kgforge.extract.triples import doc_triples
    from kgforge.stages.normalize import _tag_map
    from kgforge.textnorm.pipeline import DEFAULT_MAX_SEQUENCE_LENGTH, punctuate_one
    from kgforge.textnorm.tagger import get_tagger

    lang = row["lang"] or "en"
    text_norm, _labels = punctuate_one(row["text"] or "", get_tagger("mock", lang),
                                       _tag_map(lang), DEFAULT_MAX_SEQUENCE_LENGTH)
    return text_norm, sorted(doc_triples(text_norm, lang))


def corrupt_norm_text(out: str, rows: list[dict], rng) -> None:
    """Flip one byte of one sampled document's stored ``text_norm`` (the
    check's negative control, selected with ``--corrupt``)."""
    import pyarrow.parquet as pq

    url = rng.sample(rows, BUILD_SAMPLE)[0]["url"]
    d = os.path.join(out, "norm_text")
    for f in sorted(os.listdir(d)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(d, f))
        col = t.column("text_norm").to_pylist()
        urls = t.column("url").to_pylist()
        if url in urls:
            i = urls.index(url)
            col[i] = chr(ord(col[i][0]) ^ 1) + col[i][1:]
            t = t.set_column(t.schema.get_field_index("text_norm"), "text_norm",
                             [col])
            pq.write_table(t, os.path.join(d, f))
            return


def check_build(out: str, rows: list[dict], stages: list[str], rng) -> int:
    """1 if any build output check fails, else 0 (one pipeline run is one
    operation)."""
    problems = []
    sample = rng.sample(rows, BUILD_SAMPLE)
    urls = [r["url"] for r in sample]
    con = _duck()
    got_norm = dict(con.execute(
        f"SELECT url, text_norm FROM read_parquet('{out}/norm_text/*.parquet') "
        "WHERE list_contains(?, url)", [urls]).fetchall())
    got_trip: dict[str, list] = {u: [] for u in urls}
    for url, *t in con.execute(
            f"SELECT url, sent_id, subj, pred, obj, conf FROM "
            f"read_parquet('{out}/triples_raw/*.parquet') WHERE list_contains(?, url)",
            [urls]).fetchall():
        got_trip[url].append(tuple(t))
    for row in sample:
        text_norm, triples = expected_doc(row)
        if got_norm.get(row["url"]) != text_norm:
            problems.append(f"norm_text differs for {row['url']}")
        if sorted(got_trip[row["url"]]) != triples:
            problems.append(f"triples_raw differs for {row['url']}")
    for stage in stages:
        with open(os.path.join(out, stage, "_kgforge_manifest.json")) as fh:
            m = json.load(fh)
        if m["status"] != "committed" or m["row_count"] != sum(
                e["output_rows"] for e in m["lineage"]):
            problems.append(f"manifest of {stage} disagrees with its lineage")
    _report(problems)
    return int(bool(problems))


# -- query --------------------------------------------------------------------


def _edges_view(con, edges_path: str) -> None:
    con.execute(
        "CREATE OR REPLACE VIEW e AS SELECT subj_id, pred, obj_id, "
        "CAST(day AS VARCHAR) AS day FROM "
        f"read_parquet('{edges_path}/*/*.parquet', hive_partitioning = true)")


def query_candidates(edges_path: str) -> dict[str, list]:
    """Parameter pools drawn from the built graph: 2-pattern chains that
    exist, sources that still have a frontier after ``REACH_HOPS - 1``
    hops (so every call runs all its hop rounds: a source that stops after
    one hop costs a third of one that does not), crawl days, and predicate
    triples that close a 3-cycle."""
    from kgbench.workloads import REACH_HOPS

    con = _duck()
    _edges_view(con, edges_path)
    chains = con.execute(
        "SELECT DISTINCT a.pred, b.pred, b.obj_id FROM e a JOIN e b "
        "ON a.obj_id = b.subj_id ORDER BY ALL").fetchall()
    sources = [r[0] for r in con.execute(
        "WITH RECURSIVE d AS (SELECT DISTINCT subj_id, obj_id FROM e), "
        "r(src, node, hops) AS (SELECT subj_id, obj_id, 1 FROM d "
        "UNION SELECT r.src, d.obj_id, r.hops + 1 FROM r JOIN d ON d.subj_id = r.node "
        f"WHERE r.hops < {REACH_HOPS - 1}) "
        "SELECT src FROM (SELECT src, node, min(hops) AS h FROM r GROUP BY ALL) "
        f"WHERE h = {REACH_HOPS - 1} GROUP BY src ORDER BY src").fetchall()]
    if not sources:  # no path that long in this graph: any source with out-edges
        sources = [r[0] for r in con.execute(
            "SELECT DISTINCT subj_id FROM e ORDER BY 1").fetchall()]
    days = [r[0] for r in con.execute("SELECT DISTINCT day FROM e ORDER BY 1").fetchall()]
    cycles = con.execute(
        "WITH d AS (SELECT DISTINCT subj_id, pred, obj_id FROM e) "
        "SELECT DISTINCT a.pred, b.pred, c.pred FROM d a "
        "JOIN d b ON a.obj_id = b.subj_id "
        "JOIN d c ON b.obj_id = c.subj_id AND c.obj_id = a.subj_id "
        "ORDER BY ALL").fetchall()
    if not cycles:  # no closed triangle in this graph: query the top predicates
        top = [r[0] for r in con.execute(
            "SELECT pred FROM e GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 3").fetchall()]
        cycles = [tuple(top)]
    return {"chains": chains, "sources": sources, "days": days, "cycles": cycles}


def draw_params(name: str, cand: dict, rng) -> dict:
    from kgbench.workloads import WINDOW_DAYS

    if name == "anchored":
        p1, p2, c = rng.choice(cand["chains"])
        return {"p1": p1, "p2": p2, "c": c}
    if name == "reach":
        return {"source": rng.choice(cand["sources"])}
    if name == "window":
        days = cand["days"]
        lo = rng.randrange(max(1, len(days) - WINDOW_DAYS + 1))
        return {"lo": days[lo], "hi": days[min(lo + WINDOW_DAYS, len(days)) - 1]}
    p1, p2, p3 = rng.choice(cand["cycles"])
    return {"p1": p1, "p2": p2, "p3": p3}


def _oracle(con, name: str, p: dict):
    """(expected rows, the columns of a call's output rows to compare, and
    whether order matters)."""
    from kgbench.workloads import REACH_HOPS, WINDOW_K

    if name == "anchored":
        rows = con.execute(
            "SELECT DISTINCT a.subj_id, a.obj_id FROM e a JOIN e b ON a.obj_id = b.subj_id "
            "WHERE a.pred = ? AND b.pred = ? AND b.obj_id = ?",
            [p["p1"], p["p2"], p["c"]]).fetchall()
        return rows, ("x", "y"), False
    if name == "reach":
        rows = con.execute(
            "WITH RECURSIVE d AS (SELECT DISTINCT subj_id, obj_id FROM e), "
            "r(node, hops) AS (SELECT obj_id, 1 FROM d WHERE subj_id = ? "
            "UNION SELECT d.obj_id, r.hops + 1 FROM r JOIN d ON d.subj_id = r.node "
            f"WHERE r.hops < {REACH_HOPS}) "
            "SELECT node, min(hops) FROM r GROUP BY node", [p["source"]]).fetchall()
        return rows, ("node", "hops"), False
    if name == "window":
        rows = con.execute(
            "SELECT subj_id, pred, obj_id, count(*) AS n FROM e WHERE day BETWEEN ? AND ? "
            f"GROUP BY ALL ORDER BY n DESC, subj_id, pred, obj_id LIMIT {WINDOW_K}",
            [p["lo"], p["hi"]]).fetchall()
        return rows, ("subj_id", "pred", "obj_id", "n"), True
    rows = con.execute(
        "SELECT DISTINCT a.subj_id, a.obj_id, b.obj_id FROM e a "
        "JOIN e b ON a.obj_id = b.subj_id "
        "JOIN e c ON b.obj_id = c.subj_id AND c.obj_id = a.subj_id "
        "WHERE a.pred = ? AND b.pred = ? AND c.pred = ?",
        [p["p1"], p["p2"], p["p3"]]).fetchall()
    return rows, ("a", "b", "c"), False


def check_queries(edges_path: str, calls: list[dict], work: str) -> int:
    """Number of calls that raised or whose rows differ from DuckDB's."""
    con = _duck(work)
    _edges_view(con, edges_path)
    problems = []
    for call in calls:
        if call["error"]:
            problems.append(f"{call['name']} {call['params']} raised {call['error']}")
            continue
        want, cols, ordered = _oracle(con, call["name"], call["params"])
        got = [tuple(r[c] for c in cols) for r in call["rows"]]
        want = [tuple(r) for r in want]
        if (got != want) if ordered else (sorted(got) != sorted(want)):
            problems.append(f"{call['name']} {call['params']}: {len(got)} rows, "
                            f"DuckDB {len(want)}")
    _report(problems)
    return len(problems)


# -- ingest -------------------------------------------------------------------


def _segment_checksums(df, base: int, seg_docs: int) -> dict[int, tuple]:
    """Per landed segment: (rows, order-insensitive checksum)."""
    from pyspark.sql import functions as F

    doc_id = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    cols = [F.col(c).cast("string") for c in
            ("subj_id", "pred", "obj_id", "url", "warc_ts", "day")]
    rows = (
        df.select(F.floor((doc_id - base) / seg_docs).cast("int").alias("seg"),
                  F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .groupBy("seg").agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"))
        .collect()
    )
    return {r["seg"]: (r["n"], str(r["h"])) for r in rows}


def check_ingest(spark, in_dir: str, out_dir: str, alias_map: str, base: int,
                 seg_docs: int, n_segments: int) -> int:
    """Number of increments whose streamed output differs from one batch
    run of ``edges_with_day(rewrite_triples(extract_docstream(docs)))``."""
    from pyspark.sql import functions as F

    from kgforge.stages.canonicalize import edges_with_day, rewrite_triples
    from kgforge.stages.docstream import extract_docstream

    mention_map = spark.read.parquet(alias_map).select(
        F.col("alias").alias("mention"), "canon_id")
    batch = edges_with_day(rewrite_triples(
        extract_docstream(spark.read.parquet(in_dir)), mention_map))
    want = _segment_checksums(batch, base, seg_docs)
    got = _segment_checksums(spark.read.parquet(out_dir), base, seg_docs)
    problems = [f"segment {s}: streamed {got.get(s)} != batch {want.get(s)}"
                for s in range(n_segments) if got.get(s) != want.get(s)]
    _report(problems)
    return len(problems)


def _report(problems: list[str]) -> None:
    import sys

    for p in problems[:10]:
        print(f"check failed: {p}", file=sys.stderr)
