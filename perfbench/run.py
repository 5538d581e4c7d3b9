#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

Usage:
  python3 perfbench/run.py --workload <linkage|encode_scan>
      --seed <n> --seconds <s> --trace <0|1> [--smoke] [--corrupt]

Run it from the repository root. The first run builds the library and the
benchmark from source with sbt (into target/, perfbench/target/ and
.bench_build/); later runs reuse the build while the sources are unchanged.
Each run starts a fresh JVM on local[nproc] in its own scratch directory
under .bench_build/, which is deleted afterwards.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With --trace 0 the metrics
are the `end_to_end` metrics of BENCHMARK.json, with --trace 1 the
`per_layer` ones; a layer the workload does not exercise reads 0. The line
before it holds the run's notes: host stamps, per-run samples and the
failures, if any.

--smoke shrinks every workload for the benchmark's own test
(perfbench/smoke_test.py); --corrupt alters one expected result, which the
run must count as failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, '.bench_build')
TABLES = os.path.join(HERE, 'testdata', 'sf0.01')
WORKLOADS = ('linkage', 'encode_scan')
RUN_LIMIT_S = 170  # a run must end within 180 s, build excluded
BUILD_LIMIT_S = 850
HEAP = '6g'
# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [f'--add-opens=java.base/{p}=ALL-UNNAMED' for p in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net',
    'java.nio', 'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic',
    'sun.nio.ch', 'sun.nio.cs', 'sun.security.action', 'sun.util.calendar')]


class BenchError(Exception):
    """The benchmark itself could not run; no result is printed."""


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, 'build.sbt'), os.path.join(HERE, 'build.sbt')]
    for base in (os.path.join(ROOT, 'src', 'main'), os.path.join(HERE, 'src'),
                 os.path.join(ROOT, 'project'), os.path.join(HERE, 'project')):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != 'target')
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, 'rb') as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build with sbt unless the recorded build matches the sources."""
    if not os.path.isdir(os.path.join(ROOT, 'src', 'main', 'scala')):
        raise BenchError('library sources not found next to perfbench/')
    digest = sources_digest()
    stamp = os.path.join(BUILD, 'classpath.txt')
    if os.path.exists(stamp):
        with open(stamp) as fh:
            recorded, cp = fh.read().split('\n', 1)
        if recorded == digest:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault('COURSIER_MODE', 'offline')
    repos = os.path.expanduser('~/.sbt/repositories')
    if 'SBT_OPTS' not in env and os.path.exists(repos):
        env['SBT_OPTS'] = ('-Dsbt.override.build.repos=true -Dsbt.offline=true '
                           f'-Dsbt.repository.config={repos}')
    tmp = os.path.join(BUILD, 'sbt-tmp')
    os.makedirs(tmp, exist_ok=True)
    cmd = ['sbt', '-batch', '-Dsbt.server.autostart=false', '-J-XX:-UsePerfData',
           f'-Dsbt.global.base={os.path.join(BUILD, "sbt-global")}',
           f'-Djava.io.tmpdir={tmp}', f'-Djna.tmpdir={tmp}',
           'export perfbench/Runtime/fullClasspath']
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        raise BenchError('build timed out')
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    if p.returncode != 0 or not lines or '.jar' not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError(f'build failed (exit {p.returncode})')
    cp = lines[-1].strip()
    with open(stamp, 'w') as fh:
        fh.write(digest + '\n' + cp)
    return cp


def run(args):
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as fh:
        spec = json.load(fh)
    if not os.path.exists(os.path.join(TABLES, 'oracle_rows.tsv')):
        raise BenchError('test tables not found in perfbench/testdata/')
    cp = classpath()
    started = time.time()
    work = os.path.join(BUILD, f'run-{os.getpid()}-{int(started * 1000)}')
    for d in ('local', 'tmp', 'checkpoints', 'work'):
        os.makedirs(os.path.join(work, d))
    try:
        out = os.path.join(work, 'result.json')
        cmd = (['java', f'-Xmx{HEAP}', '-XX:-UsePerfData'] + ADD_OPENS + [
            '-Dspark.ui.enabled=false',
            '-Dspark.sql.session.timeZone=UTC',
            f'-Dspark.local.dir={work}/local',
            f'-Dspark.sql.streaming.checkpointLocation={work}/checkpoints',
            f'-Djava.io.tmpdir={work}/tmp',
            '-cp', cp, 'perfbench.Main',
            '--workload', args.workload, '--seed', str(args.seed),
            '--seconds', str(args.seconds), '--trace', str(args.trace),
            '--work', os.path.join(work, 'work'), '--tables', TABLES, '--out', out,
            '--smoke', '1' if args.smoke else '0',
            '--corrupt', '1' if args.corrupt else '0'])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, 'local'))
        log = os.path.join(work, 'jvm.log')
        t0 = time.time()
        with open(log, 'w') as fh:
            try:
                p = subprocess.run(cmd, cwd=work, env=env, stdout=fh, stderr=fh,
                                   timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                raise BenchError('the run did not finish in time')
        jvm_s = time.time() - t0
        if p.returncode != 0 or not os.path.exists(out):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise BenchError(f'the benchmark JVM failed (exit {p.returncode})')
        with open(out) as fh:
            res = json.load(fh)
        attempted, failures = res['attempted'], list(res['failures'])
        res['info']['jvm_s'] = jvm_s
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = 'per_layer' if args.trace else 'end_to_end'
    values = res['layers'] if args.trace else res['metrics']
    known = {m['name']: m['unit'] for m in spec[kind]}
    unknown = sorted(set(values) - set(known))
    if unknown:
        raise BenchError(f'metrics missing from BENCHMARK.json: {unknown}')
    if not args.trace and set(known) - set(values):
        raise BenchError(f'end-to-end metrics not measured: {sorted(set(known) - set(values))}')
    metrics = {name: {'value': values.get(name, 0.0), 'unit': unit}
               for name, unit in known.items()}
    notes = dict(res['info'], workload=args.workload, seed=args.seed,
                 trace=args.trace, failures=failures[:50])
    print('notes ' + json.dumps(notes, sort_keys=True))
    print(json.dumps({'correct': not failures, 'attempted': attempted,
                      'failed': len(failures), 'metrics': metrics}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', required=True, type=int)
    ap.add_argument('--seconds', required=True, type=float)
    ap.add_argument('--trace', required=True, type=int, choices=(0, 1))
    ap.add_argument('--smoke', action='store_true')
    ap.add_argument('--corrupt', action='store_true')
    args = ap.parse_args()
    try:
        run(args)
    except BenchError as e:
        sys.stderr.write(f'perfbench: {e}\n')
        sys.exit(2)


if __name__ == '__main__':
    main()
