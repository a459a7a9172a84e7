#!/usr/bin/env python3
"""The benchmark's own tests: small runs through run.py.

    python3 perfbench/test_perfbench.py

Each test starts a JVM (about 20-40 s each on 4 cores); the first one in a
fresh checkout also builds.
"""
import json
import os
import statistics
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, 'run.py'), '--seed', '3',
                        '--seconds', '1'] + list(args),
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f'run.py failed:\n{p.stderr[-3000:]}')
    return json.loads(p.stdout.strip().splitlines()[-1])


def spec():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        return json.load(f)


def record(workload, trace=0):
    with open(os.path.join(HERE, 'runs', f'{workload}-s3-t{trace}.json')) as f:
        return json.load(f)


class TinyRuns(unittest.TestCase):
    # two small ts_* registry queries keep the registry tests short
    TS_OPS = 'ts_agg_basic,ts_rollup_daily'

    def test_registry_tiny_run_is_correct_and_prints_end_to_end_names(self):
        out = run('--workload', 'training_pipelines', '--ops', self.TS_OPS)
        self.assertTrue(out['correct'])
        self.assertEqual(out['failed'], 0)
        self.assertEqual(out['attempted'], 2)
        self.assertEqual(set(out['metrics']), {m['name'] for m in spec()['end_to_end']})
        for m in spec()['end_to_end']:
            self.assertEqual(out['metrics'][m['name']]['unit'], m['unit'])
            self.assertGreater(out['metrics'][m['name']]['value'], 0)

    def test_traced_run_prints_per_layer_names(self):
        out = run('--workload', 'training_pipelines', '--ops', self.TS_OPS, '--trace', '1')
        self.assertTrue(out['correct'])
        self.assertEqual(set(out['metrics']), {m['name'] for m in spec()['per_layer']})
        for m in spec()['per_layer']:
            self.assertEqual(out['metrics'][m['name']]['unit'], m['unit'])
        self.assertGreater(out['metrics']['exec.jobs']['value'], 0)

    def test_stream_tiny_run_is_correct(self):
        # eleven batches of three minutes: the watermark closes windows
        out = run('--workload', 'stream_ingest', '--stream-rows', '2000', '--trace', '1')
        self.assertTrue(out['correct'])
        self.assertGreaterEqual(out['attempted'], 1)
        self.assertGreater(out['metrics']['streaming.trigger_ms']['value'], 0)
        self.assertGreater(out['metrics']['exec.jobs']['value'], 0)
        self.assertGreater(out['metrics']['exec.tasks']['value'], 0)
        self.assertGreater(out['metrics']['sources.lake_files_written']['value'], 0)

    def test_injected_failure_counts_and_stays_in_wall(self):
        out = run('--workload', 'training_pipelines', '--ops', self.TS_OPS, '--inject-fail', '1')
        self.assertFalse(out['correct'])
        self.assertEqual(out['attempted'], 3)
        self.assertEqual(out['failed'], 1)
        lat = record('training_pipelines')['op_lat_s']
        failed = [v for k, v in lat.items() if k.endswith('__injected_fail')]
        self.assertEqual(len(failed), 1)
        self.assertGreaterEqual(failed[0], 0.05)
        self.assertAlmostEqual(out['metrics']['wall_s']['value'], sum(lat.values()), places=6)


class Spec(unittest.TestCase):
    def test_benchmark_json_keys(self):
        s = spec()
        self.assertEqual(set(s), {'command', 'paths', 'run_seconds', 'workloads',
                                  'end_to_end', 'per_layer'})
        names = [m['name'] for m in s['end_to_end'] + s['per_layer']]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn('setup_s', names)
        for m in s['end_to_end']:
            self.assertLessEqual(m['bound'], 0.25)


if __name__ == '__main__':
    unittest.main(verbosity=2)
