"""Off-the-clock correctness checks that need an independent engine: DuckDB
re-answers a seeded sample of the run's calls, or checks the final stored
artifacts, using the engine's own DuckDB SQL mirrors (emitted by the JVM
side into `jvm_result.json`).

`run(...)` returns (errors by op index, final-state errors as (message,
op kinds it fails), details for the result file).
"""
import math
import random

import duckdb

SEARCH_SAMPLE = 6


def _con(work):
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
    return con


def _sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def _search_rows(con, m, table, key, text, k, where):
    sql = (f"WITH q AS (SELECT 0::BIGINT AS doc_id, {_sql_str(text)} AS text),\n"
           f"{m['embed_ctes_sql']}\n"
           f"SELECT c.{key}, {m['cosine_sql']} AS sim FROM read_parquet('{table}/*.parquet') c, emb"
           f" {where} ORDER BY sim DESC, c.{key} LIMIT {k}")
    return con.execute(sql).fetchall()


def _compare_ranked(got_ids, got_sims, want):
    """Same similarities rank by rank; same ids except among ties at the cut."""
    if len(got_ids) != len(want):
        return f"{len(got_ids)} rows, reference has {len(want)}"
    for g, (_, w) in zip(got_sims, want):
        if abs(g - w) > 1e-6:
            return f"similarity {g} vs reference {w}"
    if want:
        cut = want[-1][1]
        strict_got = {i for i, s in zip(got_ids, got_sims) if s > cut + 1e-6}
        strict_want = {i for i, s in want if s > cut + 1e-6}
        if strict_got != strict_want:
            return "result ids differ from the reference"
    return None


def check_code_index(work, res, seed):
    m = res["metrics"]
    idx = m["index_dir"]
    ops = res["ops"]
    con = _con(work)
    errors, done = {}, {"searchCode": 0, "searchFiles": 0, "getFileContext": 0}
    # the index changes with every ingest: only reads after the last
    # ingest see the final index
    last_write = max([o["idx"] for o in ops if o["kind"] == "Graft.ingestBatch"], default=-1)
    reads = [o for o in ops if o["idx"] > last_write and not o["error"]]
    reads += [dict(r, idx=f"final{j}") for j, r in enumerate(m.get("final_reads", []))
              if not r["error"]]
    rnd = random.Random(seed)
    searches = [o for o in reads if o["kind"] in ("Graft.searchCode", "Graft.searchFiles")]
    for o in rnd.sample(searches, min(SEARCH_SAMPLE, len(searches))):
        i = o["info"]
        if o["kind"] == "Graft.searchCode":
            conds = []
            if i["element_type"]:
                conds.append(f"element_type = {_sql_str(i['element_type'])}")
            if i["file_type"]:
                conds.append(f"file_type = {_sql_str(i['file_type'])}")
            where = ("WHERE " + " AND ".join(conds)) if conds else ""
            want = _search_rows(con, m, f"{idx}/code_elements", "id", i["query"], i["k"], where)
            err = _compare_ranked(i["ids"], i["sims"], want)
            done["searchCode"] += 1
        else:
            want = _search_rows(con, m, f"{idx}/file_summaries", "file_path", i["query"], i["k"], "")
            err = _compare_ranked(i["paths"], i["sims"], want)
            done["searchFiles"] += 1
        if err:
            errors[o["idx"]] = "DuckDB reference: " + err
    for o in reads:
        if o["kind"] != "Graft.getFileContext":
            continue
        want = [r[0] for r in con.execute(
            f"SELECT id FROM read_parquet('{idx}/code_elements/*.parquet') "
            f"WHERE file_path = ? ORDER BY start_line, id LIMIT 20", [o["info"]["path"]]).fetchall()]
        done["getFileContext"] += 1
        if want != o["info"]["ids"]:
            errors[o["idx"]] = "DuckDB reference: file context differs"
    finals = [(f"final read: {e}", ["Graft.ingestBatch"])
              for i, e in errors.items() if isinstance(i, str)]
    finals += [(f"final read: {r['error']}", ["Graft.ingestBatch"])
               for r in m.get("final_reads", []) if r["error"]]
    errors = {i: e for i, e in errors.items() if not isinstance(i, str)}
    return errors, finals, {"reanswered": done}


def check_maintain(work, res):
    m = res["metrics"]
    con = _con(work)
    finals, info = [], {}
    if "docs_applied" in m:  # the pair artifact is maintained by traced runs' probe
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{work}/documents.parquet') "
                    f"WHERE doc_id < {m['docs_applied']}")
        want = set(con.execute(f"SELECT d1, d2 FROM ({m['oracle_pairs_sql']})").fetchall())
        got = set(con.execute(f"SELECT d1, d2 FROM read_parquet('{work}/final_pairs/*.parquet')").fetchall())
        info.update(pairs=len(got), oracle_pairs=len(want))
        if got != want:
            finals.append((f"pair artifact != full-corpus oracle: {len(got - want)} extra, "
                           f"{len(want - got)} missing", ["PairsLayout.upsert", "PairsLayout.compact"]))
    con.execute(f"CREATE VIEW v AS SELECT vec_id, embedding::DOUBLE[] AS e FROM "
                f"read_parquet('{work}/embeddings.parquet') WHERE vec_id < {m['vecs_applied']}")
    con.execute(f"CREATE VIEW g AS SELECT * FROM read_parquet('{work}/final_graph/*.parquet')")
    k = m["graph_k"]
    cos = m["cosine_sql"]
    probes = {
        "vectors without an adjacency list":
            "SELECT count(*) FROM v WHERE vec_id NOT IN (SELECT vec_id FROM g)",
        "lists for unknown vectors or neighbours":
            "SELECT count(*) FROM g WHERE vec_id NOT IN (SELECT vec_id FROM v) "
            "OR nbr NOT IN (SELECT vec_id FROM v)",
        "self edges": "SELECT count(*) FROM g WHERE vec_id = nbr",
        "duplicate or gapped ranks / over-long lists":
            f"SELECT count(*) FROM (SELECT vec_id, count(*) c, count(DISTINCT rn) d, "
            f"count(DISTINCT nbr) u, min(rn) lo, max(rn) hi FROM g GROUP BY vec_id) "
            f"WHERE c <> d OR c <> u OR lo <> 1 OR hi <> c OR c > {k}",
        "similarity differs from the exact cosine":
            f"SELECT count(*) FROM g JOIN v a ON a.vec_id = g.vec_id JOIN v b ON b.vec_id = g.nbr "
            f"WHERE abs(g.sim - {cos}) > 1e-6",
        "similarity increases with rank":
            "SELECT count(*) FROM g a JOIN g b ON a.vec_id = b.vec_id AND b.rn = a.rn + 1 "
            "WHERE b.sim > a.sim",
    }
    bad = {name: con.execute(sql).fetchone()[0] for name, sql in probes.items()}
    for name, n in bad.items():
        if n:
            finals.append((f"graph invariant: {n} {name}", ["GraphLayout.upsertStored"]))
    info["graph_invariants"] = bad
    return {}, finals, info


def _canon(rows):
    def v(x):
        return round(x, 6) if isinstance(x, float) and math.isfinite(x) else x
    return sorted(repr(tuple(v(x) for x in r)) for r in rows)


def check_curate(work, res):
    m = res["metrics"]
    con = _con(work)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{work}/documents.parquet')")
    finals, info = [], {}
    for kind, sql in m["oracle_sql"].items():
        got_rel = con.execute(f"SELECT * FROM read_parquet('{work}/out/{kind}/*.parquet')")
        cols = [d[0] for d in got_rel.description]
        got = got_rel.fetchall()
        want = con.execute(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall()
        ok = _canon(got) == _canon(want)
        info[kind] = {"rows": len(got), "oracle_rows": len(want), "match": ok}
        if not ok:
            finals.append((f"{kind} differs from its SparkEntry.oracleSql entry", [kind]))
    man = f"read_parquet('{work}/out/Graft.prepareTrainingSet/*.parquet')"
    kept = f"read_parquet('{work}/out/kept/*.parquet')"
    pairs = f"read_parquet('{work}/out/near_dup_pairs/*.parquet')"
    invariants = {
        "manifest docs != curation kept set":
            f"SELECT count(*) FROM ((SELECT doc_id FROM {man} EXCEPT SELECT doc_id FROM {kept}) "
            f"UNION ALL (SELECT doc_id FROM {kept} EXCEPT SELECT doc_id FROM {man}))",
        "near-dup pairs straddling the split":
            f"SELECT count(*) FROM {pairs} p JOIN {man} a ON a.doc_id = p.d1 "
            f"JOIN {man} b ON b.doc_id = p.d2 WHERE a.split <> b.split",
        "unknown split or no train split":
            f"SELECT count(*) FILTER (WHERE split NOT IN ('train', 'val')) + "
            f"(count(*) FILTER (WHERE split = 'train') = 0)::INT FROM {man}",
        "train docs unpacked or val docs packed":
            f"SELECT count(*) FROM {man} WHERE (split = 'train' AND ntok > 0 AND \"offset\" IS NULL) "
            f"OR (split = 'val' AND \"offset\" IS NOT NULL)",
        "packed token line != train token total":
            f"SELECT (max(\"offset\" + ntok) <> sum(ntok))::INT FROM {man} "
            f"WHERE split = 'train' AND ntok > 0",
    }
    bad = {name: con.execute(sql).fetchone()[0] for name, sql in invariants.items()}
    info["manifest_invariants"] = bad
    for name, n in bad.items():
        if n:
            finals.append((f"manifest invariant: {name} ({n})", ["Graft.prepareTrainingSet"]))
    return {}, finals, info


def run(workload, work, res, seed):
    if workload in ("search", "ingest"):
        return check_code_index(work, res, seed)
    if workload == "maintain":
        return check_maintain(work, res)
    return check_curate(work, res)
