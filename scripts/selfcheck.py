#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: compare graft.Verify
parquet dumps against DuckDB running SparkEntry.oracleSql on the same
testdata. Usage: selfcheck.py <sfDir> <verifyOutDir> [query...]"""
import json, sys, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # Bound the oracle itself: at sf10 a recursive/self-join CTE can
    # otherwise grow past the box (observed: dedup_clusters' transitive
    # closure at 95 GB RSS). Spill to disk instead of dying. The sf10
    # closure checks documented in SCALING.md §4 ran at 64GB — override
    # via GRAFT_ORACLE_MEM so that procedure is reproducible without
    # editing this script.
    con.execute(f"SET memory_limit="
                f"'{os.environ.get('GRAFT_ORACLE_MEM', '40GB')}'")
    # Anchor the spill dir to the verify-output dir (always writable,
    # never a surprise cwd): 40 GB-scale temp files must not land in
    # whatever directory the caller happened to invoke us from.
    con.execute(f"SET temp_directory='{os.path.join(out_dir, '.tmp')}'")
    # GRAFT_ORACLE_THREADS: cap DuckDB's parallelism when a scale check
    # shares the box with a live Spark run (the sf30 iterative-tier
    # compares) — all-cores DuckDB next to a 32-thread local[*] JVM
    # doubles BOTH walls.
    if os.environ.get("GRAFT_ORACLE_THREADS"):
        con.execute(
            f"SET threads={int(os.environ['GRAFT_ORACLE_THREADS'])}")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(p):
            continue
        if os.path.isdir(p):
            # GenScale'd dirs are Spark writes: a directory of part files
            p = f"{p}/*.parquet"
        if t == "events":
            # GenScale'd scale dirs store ts as raw BIGINT nanos (Spark
            # cannot write TIMESTAMP(NANOS)); normalize to the TIMESTAMP
            # the real dirs expose so the oracle SQL runs unchanged —
            # make_timestamp takes MICROseconds, same µs truncation as
            # graft.model.Tables.events.
            ty = con.execute(
                f"SELECT typeof(ts) FROM '{p}' LIMIT 1").fetchone()
            if ty and ty[0] == "BIGINT":
                con.execute(
                    f"CREATE VIEW events AS SELECT event_id,"
                    f" make_timestamp(ts // 1000) AS ts, user_id,"
                    f" event_type, value, props FROM '{p}'")
                continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    # Staged mode (GRAFT_ORACLE_STAGED=1): for queries whose
    # single-statement form does not fit DuckDB at sf10, run the staged
    # rendering from oracle_stages.json instead — shared building blocks
    # materialize once as TEMP TABLEs (per-statement operator state is
    # released between stages), the final SELECT reads only stage tables
    # plus the base views. The comparison target is the SAME Spark dump,
    # so the staged and single-statement renderings are mutually
    # hash-checked wherever both run.
    staged, built = {}, set()
    if os.environ.get("GRAFT_ORACLE_STAGED") == "1":
        sp = f"{out_dir}/oracle_stages.json"
        if os.path.exists(sp):
            staged = json.load(open(sp))

    def ensure_stages(needs):
        defs = dict((n, stmts) for n, stmts in staged["stages"])
        for n in needs:
            if n in built:
                continue
            import time
            t0 = time.time()
            for stmt in defs[n]:
                con.execute(stmt)
            built.add(n)
            print(f"     stage {n}: {time.time() - t0:.1f}s")

    # Big-compare mode (GRAFT_ORACLE_BIGCMP=name1,name2): for scale
    # checks whose RESULT is too large for the pandas sort-and-equals
    # path (tfidf at sf100 is ~250M rows), compare entirely inside
    # DuckDB: exact row count, per-column sum-of-hash, and a
    # sum-of-row-hash over the name-sorted column tuple — an
    # order-insensitive multiset comparison with no driver-side
    # materialization. DOUBLE columns are normalized with `+ 0.0` so a
    # -0.0/-+0.0 split between engines (value-equal under the pandas
    # path) cannot flip a hash. Both renderings were cross-validated
    # against the pandas compare at sf0.01 before being trusted at
    # scale.
    bigcmp = set(x for x in
                 os.environ.get("GRAFT_ORACLE_BIGCMP", "").split(",") if x)

    def big_compare(sql, files):
        exp_t = sorted((c[0], c[1]) for c in con.execute(
            f"DESCRIBE SELECT * FROM ({sql}) q").fetchall())
        got_t = sorted((c[0], c[1]) for c in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall())
        if [c[0] for c in exp_t] != [c[0] for c in got_t]:
            return f"columns exp={exp_t} got={got_t}"
        if exp_t != got_t:
            return f"dtypes exp={exp_t} got={got_t}"
        def agg(rel):
            per_col = []
            row_cols = []
            for cname, ctype in exp_t:
                q = f'"{cname}" + 0.0' if ctype == "DOUBLE" else f'"{cname}"'
                per_col.append(f"sum(hash({q}))")
                row_cols.append(q)
            exprs = ", ".join(per_col +
                              [f"sum(hash({', '.join(row_cols)}))"])
            return con.execute(
                f"SELECT count(*), {exprs} FROM {rel}").fetchone()
        e = agg(f"({sql}) q")
        g = agg(f"read_parquet({files!r})")
        if e != g:
            return f"multiset hashes differ exp={e} got={g}"
        return None

    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_bad += 1; continue
        if name in bigcmp:
            import time
            t0 = time.time()
            try:
                sq = staged.get("queries", {}).get(name)
                if sq is not None:
                    ensure_stages(sq["needs"])
                err = big_compare(sq["sql"] if sq else sql, files)
            except Exception as e:
                err = f"oracle error {e}"
            if err:
                print(f"FAIL {name}: {err}"); n_bad += 1
            else:
                n = con.execute(
                    f"SELECT count(*) FROM read_parquet({files!r})"
                ).fetchone()[0]
                print(f"ok   {name} ({n} rows, multiset-hash, "
                      f"{time.time() - t0:.0f}s)")
                n_ok += 1
            continue
        try:
            sq = staged.get("queries", {}).get(name)
            if sq is not None:
                ensure_stages(sq["needs"])
                exp = con.execute(sq["sql"]).fetchdf()
            else:
                exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_bad += 1; continue
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchdf()
        # driver semantics: sort columns by name, then compare values
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns exp={list(exp.columns)} got={list(got.columns)}")
            n_bad += 1; continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            n_bad += 1; continue
        exp_s = exp.sort_values(list(exp.columns)).reset_index(drop=True)
        got_s = got.sort_values(list(got.columns)).reset_index(drop=True)
        diff_cols = []
        for c in exp.columns:
            a, b = exp_s[c], got_s[c]
            if str(a.dtype) != str(b.dtype):
                diff_cols.append(f"{c}: dtype {a.dtype} vs {b.dtype}")
            elif not a.equals(b):
                bad = (a != b) & ~(a.isna() & b.isna())
                i = bad.idxmax()
                diff_cols.append(f"{c}: {int(bad.sum())} diffs, first@{i}: {a[i]!r} vs {b[i]!r}")
        if diff_cols:
            print(f"FAIL {name}: " + "; ".join(diff_cols)); n_bad += 1
        else:
            print(f"ok   {name} ({len(exp)} rows)"); n_ok += 1
    # ---- envelope checks for the no-oracle five (r16 verdict item 5) --
    # knn_ivf / popularity_approx / pagerank_global / ppr_seeded /
    # rec_blend_full are convergence- or sketch-dependent by design (no
    # bit-exact DuckDB oracle), but each has a hash-checked exact twin
    # in the same dump. Bound them mechanically against the twin so the
    # gate reports a CHECKED envelope instead of a blank. Bounds were
    # derived from the measured sf0.01 deltas (r17: knn overlap
    # min/avg 0.60/0.72 with bit-identical shared cosines; both
    # rank L1s 0.0 at round-6; popularity max rel diff 4.9% with 96/100
    # shared keys; rec_blend all-zero deltas) with generous headroom for
    # per-round data regeneration — a bound trip means the approximate
    # path genuinely broke, not that the data moved.
    def rd(q):
        return f"read_parquet('{out_dir}/{q}/*.parquet')"

    def env_knn_ivf():
        ps = con.execute(
            f"SELECT (SELECT count(DISTINCT pid) FROM {rd('knn_ivf')}),"
            f" (SELECT count(DISTINCT pid) FROM {rd('knn_ivf_fixed')})"
        ).fetchone()
        if ps[0] != ps[1]:
            return f"probe sets differ: {ps[0]} vs {ps[1]} pids", None
        mn, avg, md = con.execute(f"""
            WITH a AS (SELECT pid, vec_id, cosine FROM {rd('knn_ivf')}),
                 b AS (SELECT pid, vec_id, cosine
                       FROM {rd('knn_ivf_fixed')}),
                 j AS (SELECT a.pid, count(*) AS shared,
                              max(abs(a.cosine - b.cosine)) AS md
                       FROM a JOIN b USING (pid, vec_id) GROUP BY 1),
                 ka AS (SELECT pid, count(*) AS na FROM a GROUP BY 1)
            SELECT min(coalesce(shared, 0) * 1.0 / na),
                   avg(coalesce(shared, 0) * 1.0 / na),
                   max(coalesce(md, 0))
            FROM ka LEFT JOIN j USING (pid)""").fetchone()
        if md is not None and md > 1e-9:
            return f"shared-neighbor cosine drift {md}", None
        if mn < 0.2 or avg < 0.5:
            return f"recall vs exact twin: min {mn:.2f} avg {avg:.2f}", None
        return None, f"recall@k vs twin min {mn:.2f} avg {avg:.2f}"

    def env_rank(name, twin, l1_bound=1e-2):
        def f():
            na, nb, nj, l1 = con.execute(f"""
                SELECT (SELECT count(*) FROM {rd(name)}),
                       (SELECT count(*) FROM {rd(twin)}),
                       count(*), coalesce(sum(abs(a.rank - b.rank)), 0)
                FROM {rd(name)} a JOIN {rd(twin)} b
                  USING (product_id)""").fetchone()
            if not (na == nb == nj):
                return f"vertex sets differ: {na}/{nb}, joined {nj}", None
            if l1 > l1_bound:
                return f"rank L1 vs {twin} = {l1} > {l1_bound}", None
            return None, f"rank L1 vs {twin} = {l1:.2e}"
        return f

    def env_popularity():
        na, nb, nj, bad = con.execute(f"""
            SELECT (SELECT count(*) FROM {rd('popularity_approx')}),
                   (SELECT count(*) FROM {rd('popularity_topk')}),
                   count(*),
                   coalesce(sum(CASE WHEN abs(a.popularity - b.popularity)
                     > greatest(1, ceil(0.08 * b.popularity))
                     THEN 1 ELSE 0 END), 0)
            FROM {rd('popularity_approx')} a
            JOIN {rd('popularity_topk')} b USING (product_id)""").fetchone()
        # top-k boundary products may differ under sketch error; the
        # BODY of the two rankings must agree
        if nj < 0.8 * min(na, nb):
            return f"top-k key overlap {nj}/{min(na, nb)} < 80%", None
        if bad > 0:
            return f"{bad}/{nj} shared products outside the HLL " \
                   f"3-sigma bound (8%)", None
        return None, f"{nj}/{min(na, nb)} keys shared, all within 8%"

    def env_rec_blend():
        nj, ds, dc, dsim, dp = con.execute(f"""
            SELECT count(*), coalesce(max(abs(a.score - b.score)), 1),
                   coalesce(max(abs(a.c_cooc - b.c_cooc)), 1),
                   coalesce(max(abs(a.c_sim - b.c_sim)), 1),
                   coalesce(max(abs(a.c_ppr - b.c_ppr)), 1)
            FROM {rd('rec_blend_full')} a
            JOIN {rd('rec_blend_fixed')} b USING (product_id)""").fetchone()
        if nj < 8:
            return f"top-10 overlap with fixed twin only {nj}", None
        # cooc/sim legs share no convergence state — must be exact;
        # score/ppr legs differ only by the converged-vs-8-step tail
        if dc > 1e-9 or dsim > 1e-9:
            return f"exact legs drifted: cooc {dc} sim {dsim}", None
        if ds > 1e-3 or dp > 1e-3:
            return f"blend drift: score {ds} ppr {dp}", None
        return None, f"{nj}/10 shared, max score drift {ds:.1e}"

    envelopes = [
        ("knn_ivf", env_knn_ivf),
        ("pagerank_global", env_rank("pagerank_global", "pagerank_fixed")),
        ("ppr_seeded", env_rank("ppr_seeded", "ppr_fixed")),
        ("popularity_approx", env_popularity),
        ("rec_blend_full", env_rec_blend),
    ]
    for name, check in envelopes:
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_bad += 1; continue
        try:
            err, desc = check()
        except Exception as e:
            err, desc = f"envelope error {e}", None
        if err:
            print(f"FAIL {name}: {err}"); n_bad += 1
        else:
            n = con.execute(
                f"SELECT count(*) FROM read_parquet({files!r})"
            ).fetchone()[0]
            print(f"ok   {name} ({n} rows, envelope: {desc})"); n_ok += 1

    # a misspelt subset name must not pass as "0 ok, 0 fail"
    for name in sorted(only - set(oracle) - {n for n, _ in envelopes}):
        print(f"FAIL {name}: no such query"); n_bad += 1

    print(f"== {n_ok} ok, {n_bad} fail ==")
    sys.exit(1 if n_bad else 0)

main()
