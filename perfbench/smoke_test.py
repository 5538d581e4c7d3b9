#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Usage: python3 perfbench/smoke_test.py   (from the repository root)

Runs every workload of BENCHMARK.json in smoke mode (tiny inputs), untraced
and traced, and asserts that each run is correct and prints every metric of
its kind by name with the unit BENCHMARK.json gives it. Then runs each
workload with one expected result corrupted and asserts that the run counts
it as failed. Takes a few minutes; exits non-zero on the first violation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, 'run.py'), '--workload', workload,
           '--seed', '7', '--seconds', '1', '--trace', str(trace), '--smoke']
    if corrupt:
        cmd.append('--corrupt')
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f'{cmd} exited {p.returncode}: {p.stderr[-3000:]}'
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {'correct', 'attempted', 'failed', 'metrics'}, result.keys()
    assert isinstance(result['attempted'], int) and result['attempted'] >= 1, result
    assert isinstance(result['failed'], int), result
    return result


def main():
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as fh:
        spec = json.load(fh)
    for w in (x['name'] for x in spec['workloads']):
        for trace, kind in ((0, 'end_to_end'), (1, 'per_layer')):
            r = run(w, trace)
            assert r['correct'] and r['failed'] == 0, f'{w} trace={trace}: {r}'
            want = {m['name']: m['unit'] for m in spec[kind]}
            got = r['metrics']
            assert set(got) == set(want), f'{w} trace={trace}: {set(got) ^ set(want)}'
            for name, unit in want.items():
                m = got[name]
                assert m['unit'] == unit, f'{w}: {name} has unit {m["unit"]}, not {unit}'
                assert isinstance(m['value'], (int, float)), f'{w}: {name} = {m}'
                if kind == 'end_to_end':
                    assert m['value'] > 0, f'{w}: {name} = {m["value"]}'
            print(f'ok  {w} trace={trace}: {len(got)} metrics, {r["attempted"]} operations')
        r = run(w, 0, corrupt=True)
        assert r['failed'] >= 1 and not r['correct'], f'{w}: corruption not caught: {r}'
        print(f'ok  {w} corrupted: {r["failed"]} of {r["attempted"]} operations failed')
    print('smoke test passed')


if __name__ == '__main__':
    main()
