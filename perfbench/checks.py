"""Correctness checks of one harness run, made after the timed region.

Each check names the operations whose output it judges; an operation
whose output is wrong counts as failed. Generator validity problems
(an input that cannot exercise what the workload claims) make the run
incorrect.
"""
import json
import math
import os
import re

import duckdb


def run(res, work):
    fn = {"artifact_app": artifact_app, "curation": curation}[res["workload"]]
    out = {"failed_ops": set(), "problems": [], "validity": [], "readings": {}}
    fn(res, work, out)
    out["failed_ops"] = sorted(out["failed_ops"])
    return out


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(f"{v:.9g}")
    if isinstance(v, bool):
        return int(v)
    return v


def _rows(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def _sql_list(paths):
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


# --------------------------------------------------------------- artifact_app

# Templates whose ORDER BY ... LIMIT can cut through ties: the rows kept
# at the cut may legitimately differ between engines, so the check
# compares the sort-key column and that each row is an eligible one.
TIE_LIMITED = {"4": 1, "12": 1}


def artifact_app(res, work, out):
    templates = res["extra"]["templates"]
    ops = res["ops"]
    con = duckdb.connect()
    by_epoch = {}
    for i, o in enumerate(ops):
        if o["kind"] == "query" and o["phase"] == "timed":
            by_epoch.setdefault((o["cycle"], o["epoch"]), []).append(i)
    ingest_ops = {o["name"]: i for i, o in enumerate(ops)
                  if o["kind"] in ("setup", "ingest")}
    for ep in res["extra"]["epochs"]:
        c, e = ep["cycle"], ep["epoch"]
        files = ep["files"]
        con.execute("CREATE OR REPLACE VIEW artifactmetadata AS SELECT * FROM read_parquet("
                    f"{_sql_list(f for f, _ in files['artifactmetadata'])}, hive_partitioning = true)")
        for t in ("artifactmedia", "artifactcolors"):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet("
                        f"{_sql_list(f for f, _ in files[t])})")
        for t, want in ep["expected"].items():
            key = "objectid" if t != "artifactmetadata" else "id"
            n, nd = con.execute(f"SELECT count(*), count(DISTINCT {key}) FROM {t}").fetchone()
            if n != want or (t != "artifactcolors" and nd != n):
                out["problems"].append(f"c{c}e{e} {t}: {n} rows ({nd} distinct), want {want}")
                out["failed_ops"].add(ingest_ops[f"c{c}e{e}"])
        # templates are compared on the epochs the timed phase queried
        for q, mine in _by_template(ops, by_epoch.get((c, e), [])).items():
            path = os.path.join(work, "results", f"c{c}e{e}", f"q{q}.jsonl")
            if not os.path.exists(path):
                continue
            with open(path) as fh:
                got = [json.loads(l) for l in fh if l.strip()]
            want = con.execute(templates[q]).fetchall()
            if not want:
                out["validity"].append(f"c{c}e{e} q{q}: template returned no rows")
                out["failed_ops"].update(mine)
                continue
            if q in TIE_LIMITED:
                k = TIE_LIMITED[q]
                eligible = {tuple(_norm(v) for v in r) for r in con.execute(
                    re.sub(r"\s+LIMIT\s+\d+\s*$", "", templates[q])).fetchall()}
                ok = (sorted(_norm(r[k]) for r in got) == sorted(_norm(r[k]) for r in want)
                      and all(tuple(_norm(v) for v in r) in eligible for r in got))
            else:
                ok = _rows(got) == _rows(want)
            if not ok:
                out["problems"].append(f"c{c}e{e} q{q}: result differs from DuckDB "
                                       f"({len(got)} vs {len(want)} rows)")
                out["failed_ops"].update(mine)


def _by_template(ops, idx):
    """Successful query operations of one epoch, grouped by template."""
    out = {}
    for i in idx:
        if ops[i]["ok"]:
            out.setdefault(ops[i]["name"][1:], []).append(i)
    return out


# ------------------------------------------------------------------ curation

def curation(res, work, out):
    chains(res, work, out)
    stream(res, work, out)


def _table_rows(con, rel):
    cols = sorted(rel.columns)
    return [c.lower() for c in cols], con.sql(
        f"SELECT {', '.join(cols)} FROM rel").fetchall() if cols else []


def chains(res, work, out):
    ex = res["extra"]
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{ex['corpus']}/{t}.parquet/*.parquet'")
    ops = res["ops"]
    for name, sql in sorted(ex["oracles"].items()):
        mine = [i for i, o in enumerate(ops) if o["kind"] == "entry" and o["name"] == name]
        result = os.path.join(work, "results", name)
        if not any(ops[i]["ok"] and ops[i]["phase"] == "warmup" for i in mine):
            continue
        try:
            rel = con.sql(f"SELECT * FROM '{result}/*.parquet'")
            scols, srows = _table_rows(con, rel)
            if sql is None:
                ok, why = len(srows) > 0, "no rows (rows-only check)"
            else:
                rel = con.sql(sql)
                ocols, orows = _table_rows(con, rel)
                ok = scols == ocols and sorted(map(repr, srows)) == sorted(map(repr, orows))
                why = f"differs from its oracle ({len(srows)} vs {len(orows)} rows)"
        except duckdb.Error as e:
            ok, why = False, f"check error: {e}"
        if not ok:
            out["problems"].append(f"{name}: {why}")
            out["failed_ops"].update(mine)
    rates, ref, band = ex["quality_rates"], ex["sf01_rates"], ex["rate_band"]
    out["readings"]["quality_rates"] = rates
    for k, v in sorted(rates.items()):
        if abs(v - ref[k]) > band:
            out["validity"].append(f"quality rate {k} = {v:.4f}, sf0.1 {ref[k]:.4f} ± {band}")


def stream(res, work, out):
    ex = res["extra"]
    con = duckdb.connect()
    con.execute("CREATE TABLE planned(doc_id BIGINT, kind VARCHAR, landed INT, phase VARCHAR)")
    rows = [(d[0], d[1], b["batch"], b["phase"]) for b in ex["landed"] for d in b["docs"]]
    con.executemany("INSERT INTO planned VALUES (?, ?, ?, ?)", rows)
    con.execute("CREATE VIEW ledger AS SELECT * FROM read_parquet("
                f"'{ex['ledger']}/**/*.parquet', hive_partitioning = true)")
    con.execute("CREATE VIEW segments AS SELECT * FROM read_parquet("
                f"'{ex['segments']}/**/*.parquet', hive_partitioning = true)")
    per_batch = con.execute("""
        WITH j AS (
          SELECT p.landed, p.kind, p.doc_id, l.doc_id AS lid, l.keep, l.keep_quality,
                 l.keep_neardup, l.keep_vec, l.batch_id
          FROM planned p LEFT JOIN ledger l ON p.doc_id = l.doc_id)
        SELECT landed, count(*) AS n, count(DISTINCT lid) AS n_ledger,
               count(lid) AS n_rows,
               sum(CASE WHEN keep = keep_quality * keep_neardup * keep_vec
                        THEN 0 ELSE 1 END) AS bad_keep,
               sum(CASE WHEN kind = 'neardup' AND keep_neardup <> 0 THEN 1 ELSE 0 END)
                 AS missed_neardup,
               count(DISTINCT batch_id) AS n_batch_ids, min(batch_id) AS batch_id,
               sum(keep) AS kept
        FROM j GROUP BY landed ORDER BY landed""").fetchall()
    seg = dict(con.execute(
        "SELECT batch_id, count(*) FROM segments GROUP BY batch_id").fetchall())
    extra_rows = con.execute(
        "SELECT count(*) FROM ledger WHERE doc_id NOT IN (SELECT doc_id FROM planned)"
    ).fetchone()[0]
    if extra_rows:
        out["problems"].append(f"{extra_rows} ledger rows for documents never landed")
    op_of = {o["name"]: i for i, o in enumerate(res["ops"]) if o["kind"] == "batch"}
    for (landed, n, n_ledger, n_rows, bad_keep, missed, n_ids, batch_id, kept) in per_batch:
        why = []
        if n_ledger != n or n_rows != n:
            why.append(f"{n_rows} ledger rows for {n} arrivals")
        if bad_keep:
            why.append(f"{bad_keep} rows with keep != product of stage keeps")
        if missed:
            why.append(f"{missed} planted near-duplicates not dropped at neardup")
        if n_ids != 1:
            why.append(f"ledger rows spread over {n_ids} micro-batches")
        elif seg.get(batch_id, 0) != (kept or 0):
            why.append(f"{seg.get(batch_id, 0)} segment rows for {kept} kept")
        if why:
            out["problems"].append(f"batch {landed}: " + "; ".join(why))
            out["failed_ops"].add(op_of[f"b{landed}"])
    shares = dict(con.execute("""
        SELECT l.stage, count(*) * 1.0 / (SELECT count(*) FROM planned WHERE phase = 'timed')
        FROM planned p JOIN ledger l USING (doc_id) WHERE p.phase = 'timed'
        GROUP BY l.stage""").fetchall())
    caught = dict(con.execute("""
        SELECT p.kind, avg(CASE WHEN p.kind = 'neardup' THEN 1 - l.keep_neardup
                                WHEN p.kind = 'decon' THEN 1 - l.keep_vec
                                ELSE 1 - l.keep_quality END)
        FROM planned p JOIN ledger l USING (doc_id) GROUP BY p.kind""").fetchall())
    out["readings"]["drop_share"] = {k: shares.get(k, 0.0)
                                     for k in ("quality", "neardup", "decon", "kept")}
    out["readings"]["planted_caught"] = caught
