#!/usr/bin/env python3
"""graft benchmark: one workload, one client, closed loop, at local[nproc].

    python3 perfbench/run.py --workload training_pipelines --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):
  training_pipelines  doc registry queries, in seeded order
  stream_ingest       seeded micro-batches into StreamRollup + Lake

The first run in a checkout builds graft and the benchmark's JVM side from
source with sbt (offline); later runs reuse the build. The JVM writes a
run record, this script checks the outputs against DuckDB and prints one
JSON object as the last line of stdout. --trace 1 prints the per-layer
metrics instead of the end-to-end ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, 'target')
RUNS = os.path.join(HERE, 'runs')
DATA = os.path.join(HERE, 'data')

WORKLOADS = ('training_pipelines', 'stream_ingest')

END_TO_END = {
    'setup_s': 's', 'wall_s': 's', 'op_p50_s': 's', 'op_tail_s': 's',
    'heap_live_mb': 'MB',
}
PER_LAYER = {
    'entry.build_s': 's', 'entry.build_jobs': 'count', 'entry.build_share': 'ratio',
    'plan.analysis_ms': 'ms', 'plan.optimize_ms': 'ms', 'plan.planning_ms': 'ms',
    'plan.hazard_single_partition': 'count', 'plan.hazard_nested_loop': 'count',
    'exec.s': 's', 'exec.jobs': 'count', 'exec.stages': 'count', 'exec.tasks': 'count',
    'exec.task_overhead_s': 's', 'exec.task_s': 's', 'exec.core_util': 'ratio',
    'exec.gc_s': 's', 'exec.shuffle_read_mb': 'MB', 'exec.shuffle_write_mb': 'MB',
    'exec.spill_mb': 'MB', 'exec.failed_tasks': 'count',
    'streaming.trigger_ms': 'ms', 'streaming.add_batch_ms': 'ms',
    'streaming.planning_ms': 'ms', 'streaming.commit_ms': 'ms',
    'streaming.state_rows': 'count', 'streaming.state_mem_mb': 'MB',
    'streaming.late_rows_dropped': 'count',
    'sources.lake_add_batch_ms': 'ms', 'sources.lake_files_written': 'count',
    'sources.lake_mb_written': 'MB',
    'jvm.heap_peak_mb': 'MB', 'jvm.gc_s': 's',
    'box.canary_open_s': 's', 'box.canary_close_s': 's',
}
JDK_OPENS = [
    'java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
    'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
    'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
    'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
    'java.base/sun.util.calendar',
]


def log(*a):
    print('[perfbench]', *a, file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def source_files():
    pats = [os.path.join(ROOT, 'src', 'main', 'scala', '**', '*.scala'),
            os.path.join(HERE, 'src', '**', '*.*'),
            os.path.join(HERE, 'build.sbt'),
            os.path.join(HERE, 'project', 'build.properties')]
    return sorted(f for p in pats for f in glob.glob(p, recursive=True))


def tree_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(stamp):
    """Compiles with sbt once per source tree; returns the classpath."""
    stamp_file = os.path.join(BUILD, 'perfbench.stamp')
    cp_file = os.path.join(BUILD, 'perfbench.classpath')
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    if '-Dsbt.offline=true' not in env.get('SBT_OPTS', ''):
        env['SBT_OPTS'] = (env.get('SBT_OPTS', '') + ' -Dsbt.offline=true').strip()
    log('building graft and the benchmark with sbt')
    t0 = time.time()
    p = subprocess.run(['sbt', '-batch', '-Dsbt.log.noformat=true', 'compile',
                        'export Runtime/fullClasspath'],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or 'classes' not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit('perfbench: sbt build failed')
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, 'w') as f:
        f.write(cp)
    with open(stamp_file, 'w') as f:
        f.write(stamp)
    log(f'built in {time.time() - t0:.1f}s')
    return cp


# --------------------------------------------------------------------- run

def heap_args():
    """A fixed 1 GB heap, ten times the live set the workloads keep: -Xms =
    -Xmx, so the heap is not resized during a run."""
    return ['-Xms1g', '-Xmx1g']


def run_jvm(cp, args, work, timeout):
    for d in ('tmp', 'spark'):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ['java'] + heap_args() + ['-XX:ReservedCodeCacheSize=1g',
           f'-Djava.io.tmpdir={work}/tmp',
           '-Dspark.ui.enabled=false', f'-Dspark.local.dir={work}/spark',
           f'-Dspark.sql.warehouse.dir={work}/warehouse',
           f'-Dderby.system.home={work}/derby']
    for p in JDK_OPENS:
        cmd += ['--add-opens', f'{p}=ALL-UNNAMED']
    cmd += ['-cp', cp, 'perfbench.Main'] + args
    env = dict(os.environ, SPARK_LOCAL_IP='127.0.0.1', SPARK_LOCAL_HOSTNAME='localhost')
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=timeout)
    except BaseException as e:  # timeout, or this script being stopped
        proc.kill()
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            raise SystemExit('perfbench: JVM timed out') from None
        raise
    if rc != 0:
        raise SystemExit(f'perfbench: JVM exited with {rc}')


# ------------------------------------------------------------- correctness

def oracle_mismatches(rec):
    """Registry: each result against its DuckDB oracle, by the rule the
    repository's check tool uses: sorted columns, sorted rows, compared as
    strings. Returns {query: reason} for the queries that differ."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in glob.glob(os.path.join(rec['inputs_dir'], '*.parquet')):
        t = os.path.basename(f)[:-len('.parquet')]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    bad = {}
    names = {o['name'] for o in rec['ops']}
    for name in sorted(names):
        sql = rec['oracle_sql'].get(name)
        if sql is None:
            bad[name] = 'no oracle'
            continue
        try:
            exp = con.sql(sql).df()
            parts = glob.glob(os.path.join(rec['dumps'], name, '*.parquet'))
            got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        except Exception as e:  # noqa: BLE001 - any read error is a mismatch
            bad[name] = f'error: {str(e)[:200]}'
            continue
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        if list(exp.columns) != list(got.columns):
            bad[name] = f'columns {list(exp.columns)} != {list(got.columns)}'
            continue
        if len(exp) != len(got):
            bad[name] = f'rows {len(exp)} != {len(got)}'
            continue
        cols = list(exp.columns)
        es = exp.sort_values(by=cols).reset_index(drop=True).astype(str)
        gs = got.sort_values(by=cols).reset_index(drop=True).astype(str)
        neq = (es != gs).any(axis=1)
        if neq.any():
            bad[name] = f'{int(neq.sum())} mismatched rows'
    return bad


def stream_mismatches(rec):
    """stream_ingest: the lake holds exactly the landed rows (count and
    checksum), and the rollup equals a batch rollup of the rows the
    watermark kept, for every window the final watermark closed."""
    import duckdb
    d = rec['stream_dir']
    win, delay = rec['window_us'], rec['watermark_us']
    wm_us = rec['final_watermark_ms'] * 1000
    con = duckdb.connect()
    con.sql(f"""CREATE VIEW landed AS SELECT *, CAST(substr(regexp_extract(filename,
        'b[0-9]+[.]parquet'), 2, 5) AS BIGINT) AS b
        FROM read_parquet('{d}/src/*.parquet', filename = true)""")
    bad = {}
    q = 'SELECT count(*), sum(event_id), sum(ts), sum(user_id), sum(value) FROM '
    exp = con.sql(q + 'landed').fetchone()
    got = con.sql(q + f"read_parquet('{d}/lake/*/*.parquet')").fetchone()
    if exp != got:
        bad['lake'] = f'lake {got} != landed {exp}'
    # Spark drops a row whose event time is at or below the watermark in
    # force for its batch: the max event time of earlier batches - delay.
    con.sql(f"""CREATE VIEW kept AS WITH wm AS (
        SELECT b, max(max(ts)) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) - {delay} AS w
        FROM landed GROUP BY b)
        SELECT landed.* FROM landed JOIN wm USING (b) WHERE w IS NULL OR ts > w""")
    closed = f'ts_end <= {wm_us - 1_000_000}'
    exp_sql = f"""SELECT user_id, ts - ts % {win} AS ts_begin, ts - ts % {win} + {win} AS ts_end,
        count(*) AS n, sum(value) AS sum_value, min(value) AS min_value,
        max(value) AS max_value FROM kept GROUP BY ALL"""
    got_sql = f"""SELECT user_id, ts_begin, ts_end, n, sum_value, min_value, max_value
        FROM read_parquet('{d}/rollup/*.parquet')"""
    n_exp = con.sql(f'SELECT count(*) FROM ({exp_sql}) WHERE {closed}').fetchone()[0]
    diff = con.sql(f"""SELECT count(*) FROM (
        (SELECT * FROM ({exp_sql}) WHERE {closed} EXCEPT ALL
         SELECT * FROM ({got_sql}) WHERE {closed})
        UNION ALL
        (SELECT * FROM ({got_sql}) WHERE {closed} EXCEPT ALL
         SELECT * FROM ({exp_sql}) WHERE {closed}))""").fetchone()[0]
    if n_exp == 0 or diff:
        bad['rollup'] = f'{diff} rows differ over {n_exp} closed windows'
    return bad


# ----------------------------------------------------------------- metrics

def tail(lat):
    """Latency at the highest whole percentile (nearest rank) that leaves
    at least ten samples above it, or a quarter of the samples when there
    are fewer than forty. Returns (value, percentile, samples above)."""
    s = sorted(lat)
    n = len(s)
    need = max(1, min(10, n // 4))
    for p in range(99, 0, -1):
        v = s[max(0, -(-p * n // 100) - 1)]
        above = sum(1 for x in s if x > v)
        if above >= need:
            return v, p, above
    return s[-1], 100, 0


def median_by_name(ops):
    by_name = {}
    for o in ops:
        by_name.setdefault(o['name'], []).append(o['lat_s'])
    return {n: statistics.median(v) for n, v in by_name.items()}


def end_to_end(rec, registry):
    ops = rec['ops']
    lat = [o['lat_s'] for o in ops]
    if registry:
        # each query's median over the passes; a pass is made of these
        per_op = list(median_by_name(ops).values())
        wall, p50 = sum(per_op), statistics.median(per_op)
    else:
        passes = {}
        for o in ops:
            passes[o['pass']] = passes.get(o['pass'], 0.0) + o['lat_s']
        wall, p50 = statistics.median(passes.values()), statistics.median(lat)
    t, p, above = tail(lat)
    log(f'op_tail_s is p{p} of {len(lat)} samples ({above} above it)')
    return {
        'setup_s': statistics.median(rec['setup_s']) + rec['warm_s'],
        'wall_s': wall,
        'op_p50_s': p50,
        'op_tail_s': t,
        'heap_live_mb': rec['heap_live_mb'],
    }


def per_layer(rec):
    ops = rec['ops']
    n = len(ops)

    def mean(k):
        return sum(o['layers'].get(k, 0.0) for o in ops) / n

    m = {k: mean(k) for k in PER_LAYER if '.' in k and not k.startswith(('jvm.', 'box.'))}
    lat = sum(o['lat_s'] for o in ops) / n
    m['entry.build_share'] = m['entry.build_s'] / lat
    m['exec.core_util'] = m['exec.task_s'] / (rec['nproc'] * m['exec.s']) if m['exec.s'] else 0.0
    m['jvm.heap_peak_mb'] = rec['heap_peak_mb']
    m['jvm.gc_s'] = rec['gc_s']
    m['box.canary_open_s'] = rec['canary_open_s']
    m['box.canary_close_s'] = rec['canary_close_s']
    return m


def self_time_table(rec):
    """Per operation: layer self-times and the unattributed remainder,
    which add up to the measured latency."""
    worst = 0.0
    for o in rec['ops']:
        st = {k[5:]: v for k, v in o['layers'].items() if k.startswith('self.')}
        total = sum(st.values())
        worst = max(worst, abs(total - o['lat_s']))
        parts = ' '.join(f'{k}={v:.4f}' for k, v in st.items())
        log(f"self {o['id']} lat={o['lat_s']:.4f} {parts}")
    log(f'largest gap between summed self-times and latency: {worst * 1000:.2f} ms')


# -------------------------------------------------------------------- main

def main():
    # a stop request unwinds like an error, so the JVM is killed and awaited
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    # for the benchmark's own tests
    ap.add_argument('--ops', default='')
    ap.add_argument('--inject-fail', type=int, choices=(0, 1), default=0)
    ap.add_argument('--stream-rows', type=int, default=10000)
    a = ap.parse_args()
    stream = a.workload == 'stream_ingest'

    files = source_files()
    if not any(f.startswith(os.path.join(ROOT, 'src')) for f in files):
        raise SystemExit('perfbench: graft sources (src/main/scala) not found '
                         'next to the benchmark directory')
    stamp = tree_hash(files)
    cp = build(stamp)

    tag = f'{a.workload}-s{a.seed}-t{a.trace}'
    work = os.path.join(HERE, '.work', f'{tag}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, 'record.json')
        args = ['--workload', a.workload, '--seed', str(a.seed), '--seconds', str(a.seconds),
                '--trace', str(a.trace), '--inputs', os.path.join(DATA, 'sf0.01'),
                '--work', work, '--out', out, '--inject-fail', str(a.inject_fail),
                '--stream-rows', str(a.stream_rows)]
        if a.ops:
            args += ['--ops', a.ops]
        run_jvm(cp, args, work, timeout=170)
        with open(out) as f:
            rec = json.load(f)
        bad = stream_mismatches(rec) if stream else oracle_mismatches(rec)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = rec['ops']
    failed_ops = [o for o in ops if not o['ok'] or o['name'] in bad
                  or (stream and bad)]
    for name, why in sorted(bad.items()):
        log(f'MISMATCH {name}: {why}')
    for o in ops:
        if not o['ok']:
            log(f"FAILED {o['id']}: {o['err']}")
    log('slowest operations (median s): ' + ', '.join(
        f'{n}={v:.3f}' for n, v in
        sorted(median_by_name(ops).items(), key=lambda kv: -kv[1])[:12]))
    e2e = end_to_end(rec, not stream)
    fail_frac = len(failed_ops) / len(ops)
    log(f"fail_frac={fail_frac:.4f} ({len(failed_ops)}/{len(ops)}) "
        f"nproc={rec['nproc']} heap_max_mb={rec['heap_max_mb']:.0f} tree={stamp} "
        f"canary_open_s={rec['canary_open_s']:.4f} canary_close_s={rec['canary_close_s']:.4f}")
    if a.trace:
        self_time_table(rec)
        metrics = {k: {'value': v, 'unit': PER_LAYER[k]} for k, v in per_layer(rec).items()}
    else:
        metrics = {k: {'value': v, 'unit': END_TO_END[k]} for k, v in e2e.items()}
    os.makedirs(RUNS, exist_ok=True)
    record = {'workload': a.workload, 'seed': a.seed, 'trace': a.trace, 'tree': stamp,
              'nproc': rec['nproc'], 'heap_max_mb': rec['heap_max_mb'],
              'box.canary_open_s': rec['canary_open_s'],
              'box.canary_close_s': rec['canary_close_s'], 'fail_frac': fail_frac,
              'mismatches': bad, 'end_to_end': e2e, 'setup_reps_s': rec['setup_s'],
              'warm_s': rec['warm_s'],
              'op_lat_s': {o['id']: o['lat_s'] for o in ops},
              'time': time.strftime('%Y-%m-%dT%H:%M:%SZ', time.gmtime())}
    if a.trace:
        record['per_layer'] = {k: v['value'] for k, v in metrics.items()}
        untraced = os.path.join(RUNS, f'{a.workload}-s{a.seed}-t0.json')
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)['end_to_end']['wall_s']
            log(f"tracing overhead: traced wall_s / untraced wall_s = {e2e['wall_s'] / base:.3f}")
        with open(os.path.join(RUNS, f'{tag}.spans.json'), 'w') as f:
            json.dump(rec['spans'], f)
    with open(os.path.join(RUNS, f'{tag}.json'), 'w') as f:
        json.dump(record, f, indent=1)
    print(json.dumps({'correct': not failed_ops, 'attempted': len(ops),
                      'failed': len(failed_ops), 'metrics': metrics}))


if __name__ == '__main__':
    main()
