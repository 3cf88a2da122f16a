#!/usr/bin/env python3
"""Platform benchmark: builds the engine and the benchmark from source, runs
one workload in its own Spark driver, checks its outputs, and prints every
metric by name with its unit. The last stdout line is one JSON object.

Usage (from the repository root):
    python3 platbench/run.py --workload daily_increments --seed 1 --seconds 7 --trace 0

Workloads: daily_increments, corpus_dedup (see
BENCHMARK.json). --trace 1 reports per-layer metrics instead of end-to-end
ones. Everything the run writes goes under .bench_build/ (or
$CARGO_TARGET_DIR) and .bench_out/ in the current directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join('src', 'main', 'scala')
WORKLOADS = ('daily_increments', 'corpus_dedup')
RUN_LIMIT_S = 180          # a run must end within 180 s ...
BUILD_RUN_LIMIT_S = 900    # ... or 900 s when it also builds
DRIVER_HEAP = '2g'
JDK17_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar']


def die(msg):
    print(f'platbench: {msg}', file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get('SPARK_HOME')
    if not home:
        submit = shutil.which('spark-submit')
        if not submit:
            die('Spark not found: set SPARK_HOME')
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, 'jars')
    if not glob.glob(os.path.join(jars, 'scala-compiler-*.jar')):
        die(f'no scala-compiler jar in {jars}')
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, '**', '*.scala'), recursive=True))


def scalac(jars, classpath, out, files, tmp):
    compiler = ':'.join(glob.glob(os.path.join(jars, n)) [0] for n in
                        ('scala-compiler-*.jar', 'scala-library-*.jar', 'scala-reflect-*.jar'))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ['java', '-Xss8m', '-Xmx2g', '-XX:-UsePerfData', f'-Djava.io.tmpdir={tmp}', '-cp', compiler,
           'scala.tools.nsc.Main', '-nowarn', '-usejavacp:false',
           '-classpath', classpath, '-d', out] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        die(f'compilation into {out} failed')


def build(jars, build_dir, tmp):
    """Compiles the engine and the benchmark once per source state."""
    engine, bench = sources(ENGINE_SRC), sources(os.path.join(BENCH_DIR, 'src'))
    if not engine:
        die(f'no engine sources under {ENGINE_SRC}; run from the repository root')
    digest = hashlib.sha256()
    for f in engine + bench:
        digest.update(f.encode())
        with open(f, 'rb') as fh:
            digest.update(fh.read())
    stamp = os.path.join(build_dir, 'stamp')
    main_cls, bench_cls = os.path.join(build_dir, 'main'), os.path.join(build_dir, 'bench')
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return main_cls, bench_cls, False
    os.makedirs(build_dir, exist_ok=True)
    t = time.time()
    scalac(jars, os.path.join(jars, '*'), main_cls, engine, tmp)
    scalac(jars, main_cls + ':' + os.path.join(jars, '*'), bench_cls, bench, tmp)
    with open(stamp, 'w') as fh:
        fh.write(digest.hexdigest())
    print(f'platbench: built in {time.time() - t:.1f} s', file=sys.stderr)
    return main_cls, bench_cls, True


def duckdb_mismatches(run_dir, queries_file):
    """Queries whose Spark result differs from DuckDB's on the same gold Parquet."""
    import duckdb
    tables = json.load(open(os.path.join(run_dir, 'bi_results', '_tables.json')))
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb_tmp')}'")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{path}/**/*.parquet', hive_partitioning = true)")
    text = open(queries_file).read()
    bad = []
    for block in text.split('-- name: ')[1:]:
        name, _, sql = block.partition('\n')
        name = name.strip()
        spark_rows = con.execute(
            f"SELECT * FROM read_parquet('{run_dir}/bi_results/{name}/*.parquet')").fetchall()
        duck_rows = con.execute(sql.strip().rstrip(';')).fetchall()

        def canon(rows):
            return sorted(tuple('NULL' if v is None else str(v) for v in r) for r in rows)
        if canon(spark_rows) != canon(duck_rows):
            print(f'platbench: BI query {name}: Spark result differs from DuckDB '
                  f'({len(spark_rows)} vs {len(duck_rows)} rows)', file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    started = time.time()
    out_root = os.path.abspath('.bench_out')
    tmp = os.path.join(out_root, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    jars = spark_jars()
    build_dir = os.path.abspath(os.path.join(
        os.environ.get('CARGO_TARGET_DIR', '.bench_build'), 'platbench'))
    main_cls, bench_cls, did_build = build(jars, build_dir, tmp)
    limit = BUILD_RUN_LIMIT_S if did_build else RUN_LIMIT_S

    run_dir = os.path.join(out_root, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, 'tmp'))
    queries = os.path.join(BENCH_DIR, 'bi_queries.sql')
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (['java', f'-Xmx{DRIVER_HEAP}', '-XX:-UsePerfData', f'-Djava.io.tmpdir={run_dir}/tmp',
            f'-Dlog4j2.configurationFile={os.path.abspath(os.path.join(BENCH_DIR, "log4j2.properties"))}']
           + [x for p in JDK17_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')]
           + ['-cp', ':'.join([bench_cls, main_cls, os.path.join(jars, '*')]),
              'platbench.Main', '--workload', a.workload, '--seed', str(a.seed),
              '--seconds', str(a.seconds), '--trace', str(a.trace),
              '--out', run_dir, '--queries', queries])
    # Spark would put its scratch files under these instead of spark.local.dir
    env = {k: v for k, v in os.environ.items() if k not in ('SPARK_LOCAL_DIRS', 'LOCAL_DIRS')}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env)
    try:
        # leave 15 s for the DuckDB check and reporting
        rc = proc.wait(timeout=max(1, limit - 15 - (time.time() - started)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die('run exceeded its time limit')
    if rc != 0:
        die(f'benchmark JVM exited with {rc}')
    res = json.load(open(os.path.join(run_dir, 'result.json')))

    attempted, failed = res['attempted'], res['failed']
    # every daily op ends with the BI refresh; the last one is compared with
    # DuckDB over the same final gold tables
    if a.workload == 'daily_increments' and duckdb_mismatches(run_dir, queries):
        failed = attempted

    metrics = res['layers'] if a.trace else res['e2e']
    print(f'workload {a.workload}  seed {a.seed}  ops {res["ops"]} timed of {attempted} attempted'
          f'  (closed loop, 1 client)')
    for name, m in (res['e2e'] | (res['layers'] if a.trace else {})).items():
        print(f'  {name:58s} {m["value"]:.6g} {m["unit"]}')
    print(f'  {"op_s.tail percentile":58s} p{res["tail_percentile"]}')
    print(f'  {"failed_ratio":58s} {failed / attempted:.6g} ratio')
    if 'near_dup_recall_min' in res:
        print(f'  {"near_dup_recall_min":58s} {res["near_dup_recall_min"]:.4f} ratio')
    for keep in ('result.json', 'spans.jsonl', 'manifest.json'):
        src = os.path.join(run_dir, keep)
        if os.path.exists(src):
            shutil.copy(src, os.path.join(out_root, f'{a.workload}.{keep}'))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({'correct': failed == 0, 'attempted': attempted, 'failed': failed,
                      'metrics': {n: {'value': m['value'], 'unit': m['unit']}
                                  for n, m in metrics.items()}}))


if __name__ == '__main__':
    main()
