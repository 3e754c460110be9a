#!/usr/bin/env python3
"""surqlbench: one command that runs a named workload and prints its metrics.

    python3 surqlbench/run.py --workload surql_short --seed 1 --seconds 10 --trace 0

Run it from the repository root. It builds the engine and the harness with
sbt (only when a source changed), generates the workload's statements from
the seed, runs them in one JVM that it starts and waits for, checks every
output against DuckDB (or, for `interp_crud`, the harness's own model), and
prints one JSON object as the last line of standard output. Everything it
writes goes under `.bench_build/surqlbench/` in the repository root.
See README.md next to this file for the workloads and metrics.
"""
import argparse
import json
import math
import os
import random
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "surqlbench")


def data_root():
    """Directory holding the sf0.01 and sf0.1 corpora: SURQLBENCH_DATA, else
    the one TESTDATA.md at the repository root names."""
    if "SURQLBENCH_DATA" in os.environ:
        return os.environ["SURQLBENCH_DATA"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]+)/sf0\.01/?`", f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("surqlbench: corpus directory unknown (set SURQLBENCH_DATA)")
    return m.group(1)


CORES = max(1, min(4, os.cpu_count() or 1))
JVM_TIMEOUT_S = 170
# HNSW `<|k,ef|>` answers count as correct at this recall of the exact top-k.
ANN_MIN_RECALL = 0.8

# Per-layer metrics every traced run prints; a layer that a workload's path
# does not go through reads 0 there (the Spark layers on interp_crud, the
# interpreter on the Spark workloads).
PER_LAYER = [
    ("parse.ms", "ms"), ("lower.ms", "ms"), ("lower.jobs", "count"),
    ("optimize.ms", "ms"), ("physical.ms", "ms"), ("exec.ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_ms", "ms"), ("exec.sched_wait_ms", "ms"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.rows_read", "count"),
    ("exec.rows_read_per_row_returned", "ratio"),
    ("consume.ms", "ms"), ("consume.rows", "count"),
    ("stmt.ms", "ms"),
    ("wall.setup_s", "s"), ("wall.round_s", "s"), ("wall.read_ms_p50", "ms"),
    ("wall.read_ms_p90", "ms"), ("wall.write_ms_p50", "ms"),
    ("wall.stmts_per_s", "statements/s"),
    ("read.lower_ms", "ms"), ("read.exec_ms", "ms"),
    ("write.lower_ms", "ms"), ("write.exec_ms", "ms"),
    ("graph.exec_jobs", "count"), ("graph.exec_stages", "count"),
    ("family.point.s", "s"), ("family.range.s", "s"), ("family.topk.s", "s"),
    ("family.link.s", "s"), ("family.subquery.s", "s"), ("family.group.s", "s"),
    ("family.update.s", "s"), ("family.upsert.s", "s"), ("family.create.s", "s"),
    ("family.relate.s", "s"), ("family.script.s", "s"),
    ("family.agg.s", "s"), ("family.graph.s", "s"), ("family.vector.s", "s"),
    ("family.text.s", "s"), ("family.bulk_update.s", "s"),
    ("vector.ann_recall", "ratio"),
    ("interp.run_ms.create", "ms"), ("interp.run_ms.select", "ms"),
    ("interp.run_ms.update", "ms"), ("interp.run_ms.delete", "ms"),
    ("interp.create_per_s", "statements/s"), ("interp.read_per_s", "statements/s"),
    ("interp.update_per_s", "statements/s"), ("interp.records", "count"),
    ("setup.session_s", "s"), ("setup.tables_s", "s"),
    ("setup.warm_s.fts", "s"), ("setup.warm_s.hnsw", "s"),
    ("setup.warm_s.edges", "s"),
    ("setup.cache_bytes", "bytes"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_after_gc_mb", "MB"),
    ("trace.unattributed_pct", "%"), ("trace.overhead_pct", "%"),
    ("trace.spans", "count"), ("host.steal_pct", "%"),
]
END_TO_END = ["setup_s", "cpu_ms_per_stmt", "cpu_ms_per_read", "cpu_ms_per_write"]


def log(msg):
    print(f"[surqlbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- building

def source_stamp():
    """Newest modification time over every input of the build."""
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(BENCH, "project"), os.path.join(ROOT, "project")):
        for dirpath, dirnames, files in os.walk(base):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def classpath():
    """Compiles engine and harness if a source is newer than the last build;
    returns the runtime classpath. sbt's output goes to stderr."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= stamp:
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l]
    sys.stderr.write("\n".join(l for l in lines[-40:] if l.startswith("[")) + "\n")
    lines = [l for l in lines if not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise SystemExit("surqlbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


# ------------------------------------------------------- generating inputs

def duck(data, sf):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{sf}/{t}.parquet')")
    return con


class Stmt:
    """A generated statement and the way its output is checked: `twin` is
    DuckDB SQL computing the same rows; `check` is exact (row for row),
    sorted (the same rows in any order), `topk` (scores equal to `tol`, ids
    equal wherever the score is not tied at the cut-off) or `recall` (at
    least ANN_MIN_RECALL of the exact top-k ids found)."""

    def __init__(self, kind, family, surql, twin, check="exact", tol=1e-9):
        self.kind, self.family, self.twin, self.check, self.tol = kind, family, twin, check, tol
        self.surql = " ".join(surql.split())


BM25_K1, BM25_B = 1.2, 0.75


def bm25_sql(terms, k):
    """Okapi BM25 over whitespace tokens of lower-cased text, all terms
    required: the scoring the `@@` full-text index serves."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
      WITH toks AS (SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS term
                    FROM documents),
      post AS (SELECT term, doc_id, count(*) AS tf FROM toks
               WHERE term IN ({in_list}) GROUP BY 1, 2),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl),
      dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY 1),
      scored AS (
        SELECT post.doc_id,
               greatest(0.0, ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5)))
               * {BM25_K1 + 1.0} * (1.0 + ln(post.tf::DOUBLE))
               / ((1.0 + ln(post.tf::DOUBLE))
                  + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl::DOUBLE / stats.avgdl))
               AS term_score
        FROM post JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN stats),
      hits AS (SELECT doc_id FROM post GROUP BY doc_id
               HAVING count(DISTINCT term) = {len(set(terms))})
      SELECT doc_id, sum(term_score) AS score FROM scored JOIN hits USING (doc_id)
      GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {k}"""


def analytic_statements(rng, con):
    """surql_analytic: one pass over sf0.1 of the agg, graph, vector, text and
    bulk_update families, each with seed-varied constants."""
    out = []
    day = rng.randrange(60, 120)
    cutoff = f"2001-{1 + day // 31:02d}-{1 + day % 28:02d}"
    out.append(Stmt("read", "agg",
        f"""SELECT l_returnflag, l_linestatus, math::sum(l_quantity) AS sum_qty,
              math::sum(l_extendedprice) AS sum_base,
              math::sum(l_extendedprice * (1 - l_discount)) AS sum_disc,
              math::sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
              math::mean(l_quantity) AS avg_qty, math::mean(l_discount) AS avg_disc,
              count() AS cnt
            FROM lineitem WHERE l_shipdate <= d'{cutoff}T00:00:00Z'
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
        f"""SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
              sum(l_extendedprice * (1 - l_discount)),
              sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
              avg(l_quantity), avg(l_discount), count(*)
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '{cutoff} 00:00:00'
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""))
    segs = [r[0] for r in con.sql("SELECT DISTINCT c_mktsegment FROM customer ORDER BY 1").fetchall()]
    seg, q = rng.choice(segs), rng.randrange(20, 30)
    out.append(Stmt("read", "graph",
        f"""SELECT count() AS n FROM lineitem
            WHERE l_orderkey.o_custkey.c_mktsegment = '{seg}' AND l_quantity > {q} GROUP ALL""",
        f"""SELECT count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = '{seg}' AND l_quantity > {q}"""))
    max_o = con.sql("SELECT max(o_orderkey) FROM orders").fetchone()[0]
    a = rng.randrange(0, max_o - 60)
    out.append(Stmt("read", "graph",
        f"""SELECT o_orderkey, array::join(@{{1..3}}(->next_order->orders), ',') AS reached
            FROM orders:{a}..{a + 50} ORDER BY o_orderkey""",
        f"""WITH RECURSIVE seq AS (
              SELECT o_orderkey, lead(o_orderkey) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS nxt
              FROM orders),
            edges AS (SELECT o_orderkey AS src, nxt AS dst FROM seq WHERE nxt IS NOT NULL),
            walk(start, node, depth) AS (
              SELECT o_orderkey, o_orderkey, 0 FROM orders
              WHERE o_orderkey >= {a} AND o_orderkey < {a + 50}
              UNION ALL
              SELECT w.start, e.dst, w.depth + 1 FROM walk w
              JOIN edges e ON w.node = e.src WHERE w.depth < 3),
            fin AS (SELECT start, max(depth) AS dstar FROM walk GROUP BY start),
            res AS (
              SELECT w.start, string_agg(w.node::VARCHAR, ',' ORDER BY w.node) AS reached
              FROM walk w JOIN fin f ON w.start = f.start AND w.depth = f.dstar
              WHERE f.dstar >= 1 GROUP BY w.start)
            SELECT o.o_orderkey, coalesce(r.reached, '') AS reached
            FROM orders o LEFT JOIN res r ON r.start = o.o_orderkey
            WHERE o.o_orderkey >= {a} AND o.o_orderkey < {a + 50}
            ORDER BY o.o_orderkey"""))
    chains = con.sql("""
        WITH seq AS (SELECT o_orderkey, o_custkey, row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS rn,
                     count(*) OVER (PARTITION BY o_custkey) AS cnt FROM orders)
        SELECT o_custkey, list(o_orderkey ORDER BY rn) FROM seq WHERE cnt >= 6
        GROUP BY o_custkey ORDER BY o_custkey""").fetchall()
    chain = rng.choice(chains)[1]
    hops = 4
    out.append(Stmt("read", "graph",
        f"""SELECT o_orderkey,
              array::join(@{{1..6+shortest=orders:{chain[hops]}}}(->next_order->orders), ',') AS path
            FROM orders:{chain[0]}""",
        f"SELECT {chain[0]}, '{','.join(str(x) for x in chain[1:hops + 1])}'"))
    nvec = con.sql("SELECT count(*) FROM embeddings").fetchone()[0]
    for ann in (False, True):
        qid = rng.randrange(nvec)
        vec = con.sql(f"SELECT embedding FROM embeddings WHERE vec_id = {qid}").fetchone()[0]
        lit = "[" + ", ".join(repr(float(x)) for x in vec) + "]"
        op = "<|10,80|>" if ann else "<|10,COSINE|>"
        out.append(Stmt("read", "vector",
            f"""SELECT vec_id, 1.0 - vector::distance::knn() AS cos_sim FROM embeddings
                WHERE vec_id != {qid} AND embedding {op} {lit} ORDER BY cos_sim DESC, vec_id""",
            f"""SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], {lit}::DOUBLE[]) AS s
                FROM embeddings WHERE vec_id != {qid} ORDER BY s DESC, vec_id LIMIT 10""",
            "recall" if ann else "topk"))
    # Every common term is in most documents, so its BM25 weight is 0; each
    # query also names the one rare term, which gives the ranking its scores.
    vocab = [r[0] for r in con.sql("""
        SELECT term FROM (SELECT unnest(string_split(trim(lower(text)), ' ')) AS term
                          FROM documents) GROUP BY term HAVING count(*) > 1000
        ORDER BY term""").fetchall()]
    terms = ["dup"] + rng.sample(vocab, 2)
    out.append(Stmt("read", "text",
        f"""SELECT doc_id, search::score(1) AS score FROM documents
            WHERE text @1@ '{" ".join(terms)}' ORDER BY score DESC, doc_id LIMIT 20""",
        bm25_sql(terms, 20), "topk", tol=6e-5))  # the index rounds scores to 4 places
    for month in rng.sample(range(1, 12), 3):
        lo, hi = f"1996-{month:02d}-01", f"1996-{month + 1:02d}-01"
        out.append(Stmt("write", "bulk_update",
            f"""UPDATE orders SET o_totalprice = o_totalprice * 1.1
                WHERE o_orderdate >= d'{lo}T00:00:00Z' AND o_orderdate < d'{hi}T00:00:00Z'
                RETURN o_orderkey, o_totalprice""",
            f"""SELECT o_orderkey, o_totalprice * 1.1 FROM orders
                WHERE o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'
                ORDER BY o_orderkey""", "sorted"))
    return out


def short_statements(rng, con):
    """surql_short: one round of 16 selective statements over sf0.01, five of
    them single-record writes returning their after-image."""
    okeys = [r[0] for r in con.sql("SELECT o_orderkey FROM orders ORDER BY 1").fetchall()]
    ckeys = [r[0] for r in con.sql("SELECT c_custkey FROM customer ORDER BY 1").fetchall()]
    prios = [r[0] for r in con.sql("SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1").fetchall()]
    max_o = okeys[-1]
    out = []
    for _ in range(2):
        k = rng.choice(okeys)
        out.append(Stmt("read", "point",
            f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders:{k}",
            f"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = {k}"))
    for _ in range(2):
        a = rng.randrange(0, max_o - 60)
        out.append(Stmt("read", "range",
            f"SELECT o_orderkey, o_totalprice FROM orders:{a}..{a + 50} ORDER BY o_orderkey",
            f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey >= {a} "
            f"AND o_orderkey < {a + 50} ORDER BY o_orderkey"))
    p = rng.choice(prios)
    out.append(Stmt("read", "topk",
        f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '{p}' "
        f"ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
        f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = '{p}' "
        f"ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"))
    q = rng.randrange(40, 49)
    out.append(Stmt("read", "topk",
        f"SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE l_quantity > {q} "
        f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10",
        f"SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem WHERE l_quantity > {q} "
        f"ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10"))
    for _ in range(2):
        a = rng.randrange(0, max_o - 30)
        out.append(Stmt("read", "link",
            f"SELECT o_orderkey, o_custkey.c_name AS cname, o_custkey.c_mktsegment AS seg "
            f"FROM orders:{a}..{a + 20} ORDER BY o_orderkey",
            f"SELECT o_orderkey, c_name AS cname, c_mktsegment AS seg FROM orders "
            f"LEFT JOIN customer ON o_custkey = c_custkey "
            f"WHERE o_orderkey >= {a} AND o_orderkey < {a + 20} ORDER BY o_orderkey"))
    for _ in range(2):
        x = rng.randrange(440000, 470000)
        out.append(Stmt("read", "subquery",
            f"SELECT c_custkey, c_name FROM customer WHERE c_custkey INSIDE "
            f"(SELECT o_custkey FROM orders WHERE o_totalprice > {x}.0) ORDER BY c_custkey",
            f"SELECT c_custkey, c_name FROM customer WHERE c_custkey IN "
            f"(SELECT o_custkey FROM orders WHERE o_totalprice > {x}.0) ORDER BY c_custkey"))
    a = rng.randrange(0, ckeys[-1] - 60)
    out.append(Stmt("read", "group",
        f"SELECT o_orderstatus, count() AS cnt, math::sum(o_totalprice) AS total "
        f"FROM orders WHERE o_custkey >= {a} AND o_custkey < {a + 50} "
        f"GROUP BY o_orderstatus ORDER BY o_orderstatus",
        f"SELECT o_orderstatus, count(*) AS cnt, sum(o_totalprice) AS total "
        f"FROM orders WHERE o_custkey >= {a} AND o_custkey < {a + 50} "
        f"GROUP BY o_orderstatus ORDER BY o_orderstatus"))
    k = rng.choice(okeys)
    out.append(Stmt("write", "update",
        f"UPDATE orders:{k} SET o_totalprice = o_totalprice + 1.5 RETURN o_orderkey, o_totalprice",
        f"SELECT o_orderkey, o_totalprice + 1.5 FROM orders WHERE o_orderkey = {k}"))
    k = rng.choice(okeys)
    out.append(Stmt("write", "upsert",
        f"UPSERT orders:{k} SET o_orderpriority = '1-URGENT' "
        f"RETURN o_orderkey, o_custkey, o_orderpriority",
        f"SELECT o_orderkey, o_custkey, '1-URGENT' FROM orders WHERE o_orderkey = {k}"))
    k = max_o + 1 + rng.randrange(1000)
    c = rng.choice(ckeys)
    out.append(Stmt("write", "create",
        f"CREATE orders:{k} SET o_custkey = {c}, o_totalprice = 99.5 "
        f"RETURN o_orderkey, o_custkey, o_totalprice",
        f"SELECT {k}, {c}, 99.5"))
    s, p = rng.randrange(100), rng.randrange(2000)
    out.append(Stmt("write", "relate",
        f"RELATE supplier:{s}->adjacent->part:{p} SET w = 2.5 RETURN in, out, w",
        f"SELECT {s}, {p}, 2.5"))
    k = rng.choice(okeys)
    out.append(Stmt("write", "script",
        f"BEGIN; UPDATE orders:{k} SET o_totalprice = o_totalprice * 2; "
        f"SELECT o_orderkey, o_totalprice FROM orders:{k}; COMMIT;",
        f"SELECT o_orderkey, o_totalprice * 2 FROM orders WHERE o_orderkey = {k}"))
    return out


# ------------------------------------------------------------------ checks

def same_value(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return a == b


def canon(v):
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def check(st, rows, con):
    """True when the harness's rows match the statement's DuckDB twin."""
    want = [canon(list(r)) for r in con.sql(st.twin).fetchall()]
    if st.check == "sorted":
        rows, want = sorted(rows), sorted(want)
    if st.check in ("exact", "sorted"):
        return len(rows) == len(want) and all(same_value(a, b) for a, b in zip(rows, want))
    if st.check == "recall":
        st.recall = len({r[0] for r in rows} & {r[0] for r in want}) / max(1, len(want))
        return len(rows) == len(want) and st.recall >= ANN_MIN_RECALL
    if st.check == "topk":
        # rows are (id, score); ties at the cut-off may pick different ids
        if len(rows) != len(want):
            return False
        if not all(math.isclose(a[1], b[1], rel_tol=0, abs_tol=st.tol)
                   for a, b in zip(rows, want)):
            return False
        cut = want[-1][1] if want else None
        return all(a[0] == b[0] for a, b in zip(rows, want)
                   if not math.isclose(b[1], cut, rel_tol=0, abs_tol=st.tol))
    raise ValueError(st.check)


# --------------------------------------------------------------- measuring

def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def run_jvm(cp, work, args):
    add_opens = [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    cmd = ["java", "-Xms2g", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/tmp"]
    for p in add_opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "surqlbench.Main"] + args
    env = dict(os.environ, GRAFT_CACHE_DIR=f"{work}/cache",
               SPARK_LOCAL_DIRS=f"{work}/spark-local", SPARK_GRAFT_CPUS=str(CORES))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("surqlbench: measuring process timed out")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"surqlbench: measuring process exited with {rc}")


T_START = time.time()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["surql_short", "surql_analytic", "interp_crud"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--store", type=int, default=8000,
                    help="interp_crud: records in the store")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("surqlbench: run from a checkout of the repository (engine sources not found)")
    cp = classpath()
    work = fresh_dir(os.path.join(BUILD, "run"))
    for d in ("tmp", "cache", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    rng = random.Random(a.seed)
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--cores", str(CORES), "--work", work,
             "--cache-dir", f"{work}/cache", "--out", f"{work}/result.json",
             "--spans-out", f"{work}/spans.jsonl"]
    stmts, con = [], None
    if a.workload == "interp_crud":
        jargs += ["--store", str(a.store), "--setup-reps", "9"]
    else:
        sf, warms, reps, warmup = {
            "surql_short": ("sf0.01", [], 3, 2),
            # one cold set-up at sf0.1 takes ~15 s, so it is made once
            "surql_analytic": ("sf0.1", ["fts", "hnsw", "edges"], 1, 1),
        }[a.workload]
        data = data_root()
        con = duck(data, sf)
        stmts = (short_statements if a.workload == "surql_short" else analytic_statements)(rng, con)
        corpora = []
        for i in range(reps):
            c = fresh_dir(os.path.join(work, "data", f"rep{i}", sf))
            for f in os.listdir(os.path.join(data, sf)):
                shutil.copyfile(os.path.join(data, sf, f), os.path.join(c, f))
            corpora.append(c)
        with open(os.path.join(work, "statements.tsv"), "w") as f:
            for st in stmts:
                f.write(f"{st.kind}\t{st.family}\t{st.surql}\n")
        jargs += ["--statements", f"{work}/statements.tsv", "--corpora", ",".join(corpora),
                  "--warms", ",".join(warms), "--warmup-rounds", str(warmup)]

    log(f"inputs ready after {time.time() - T_START:.1f} s")
    t0 = time.time()
    run_jvm(cp, work, jargs)
    log(f"measuring process took {time.time() - t0:.1f} s")
    with open(os.path.join(work, "jvm.log")) as f:
        for line in f:
            if line.startswith("[surqlbench]"):
                sys.stderr.write(line)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    attempted, failed = res["attempted"], res["failed"]
    for msg, n in res["errors"]:
        log(f"failed x{n}: {msg}")

    layers = dict(res["layers"])
    recalls = []
    if stmts:
        runs = attempted // len(stmts)
        for st, ref, bad in zip(stmts, res["reference"], res["stmt_failed"]):
            if not ("rows" in ref and check(st, ref["rows"], con)):
                log(f"check failed: {st.family}: {st.surql} -> {str(ref)[:300]}")
                failed += runs - bad
            if st.check == "recall":
                recalls.append(getattr(st, "recall", 0.0))
    if recalls:
        layers["vector.ann_recall"] = {"value": sum(recalls) / len(recalls)}
    if a.trace:
        metrics = {}
        for name, unit in PER_LAYER:
            v = layers.pop(name, {"value": 0.0})["value"]
            metrics[name] = {"value": v, "unit": unit}
        for name in layers:
            log(f"unlisted per-layer metric {name} = {layers[name]['value']}")
    else:
        metrics = {n: res["metrics"][n] for n in END_TO_END}
    log(f"checked after {time.time() - T_START:.1f} s")
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
