"""KG-spine benchmark: seeded transcripts through the job entry points.

    python3 kgbench/run.py --workload golden|diverse|increment \
        --seed N --seconds S --trace 0|1

Run from the repository root.  The inputs are generated from the seed
and written to parquet under ``.kgbench/``; the program is handed
only those tables, on ``local[N]`` with N the usable cores, from this
one Python process.  The timed region runs whole rounds of job calls
until ``--seconds`` have passed:

* golden, diverse -- one ``pipeline.run_resumable`` call per round,
  each into a fresh table root;
* increment -- a base built by ``run_resumable`` during set-up, then
  rounds of one ``pipeline.run_incremental`` batch, each chained off
  the previous root (the base for the first).

Every output of every call is then checked against ``oracle.py``;
each checked turn and each checked job call is one operation.  The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace
0``, the per-layer metrics of ``layers.py`` with ``--trace 1``).
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, '.kgbench')

SIZES = {
    'golden': {'turns': 8_000},
    'diverse': {'turns': 8_000},
    'increment': {'base': 2_000, 'batch': 1_500},
}
# the cheap set-up steps (input generation and write, bank compile)
# run this many times; setup_s counts their median
SETUP_REPEATS = 3
JVM_HEAP = '1g'


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session(work: str):
    from yargy_spark.plans.session import build_session
    tmp = os.path.join(work, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    n = _cores()
    spark = build_session(
        app='kgbench', master='local[%d]' % n,
        shuffle_partitions=max(n, 16),
        extra={'spark.ui.showConsoleProgress': 'false',
               'spark.local.dir': tmp,
               'spark.sql.warehouse.dir': os.path.join(work, 'wh'),
               # a fixed, pre-touched heap: the JVM's peak RSS then
               # reads heap size plus its off-heap peak (Arrow and
               # network buffers, code cache, metaspace, threads)
               # instead of wherever G1 happened to grow the heap to
               'spark.driver.extraJavaOptions':
                   '-Djava.io.tmpdir=%s -Xms%s -XX:+AlwaysPreTouch'
                   % (tmp, JVM_HEAP)})
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def _shutdown(spark) -> None:
    """Stop Spark, then end the gateway JVM (it exits when its stdin
    closes) and wait until no process started by this one is left."""
    from pyspark import SparkContext
    from probes import ProcessTree
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, 'proc', None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    ProcessTree().wait_children(timeout=60)


def _rows(root: str, cols):
    """Rows of a committed table, read with pyarrow from the data
    directories its manifests name (no compaction ever runs here, so
    no bucket is excluded)."""
    import pyarrow.parquet as pq
    from yargy_spark.sources import manifest as mf
    out = []
    for d in mf.committed_data_dirs(root):
        table = pq.read_table(os.path.join(root, 'data', d),
                              columns=cols)
        out += zip(*(table.column(c).to_pylist() for c in cols))
    return out


def _lexicon():
    import corpus
    return corpus.Lexicon(os.path.join(
        ROOT, 'yargy_spark', 'data', 'lexicon_entries.parquet'))


class Batch:
    """golden and diverse: rounds of one ``run_resumable`` call over
    the same seeded input, each into a fresh table root.  Every job
    call keeps the entry points' default of 16 buckets, so it extracts
    in four chunks, each scanning the (unbucketed) input again."""

    def __init__(self, name, spark, work, seed):
        self.name, self.spark, self.work, self.seed = \
            name, spark, work, seed
        self.turns = None
        self.input = None
        self.roots = []

    def make_input(self, rep: int):
        import corpus
        path = os.path.join(self.work, 'input-%d.parquet' % rep)
        n = SIZES[self.name]['turns']
        if self.name == 'golden':
            from yargy_spark.sources.transcripts import synth_transcripts
            from tests.goldens import EXPECTED_FACTS
            start = corpus.golden_start_turn(self.seed)
            synth_transcripts(self.spark, n_turns=n, start_turn=start,
                              partitions=_cores()) \
                .write.parquet(path)
            turns = corpus.golden_turns(start, n, EXPECTED_FACTS)
        else:
            turns = corpus.DiverseCorpus(_lexicon(), self.seed).base(n)
            corpus.write_turns(turns, path, _cores())
        return path, turns

    def prepare(self, rep: int) -> None:
        """Inputs and bank compile, the set-up steps repeated
        ``SETUP_REPEATS`` times; the last repetition's input is used.
        There is no warm-up call: a job run through spark-submit
        starts cold every time."""
        from yargy_spark.extractors import CompiledBank
        self.input, self.turns = self.make_input(rep)
        CompiledBank()

    def build_base(self) -> None:
        """Set-up done once, after the repeated steps."""

    def stage(self, i: int) -> None:
        """Input of round ``i``, made before its job call is timed."""

    def round(self, i: int) -> int:
        from yargy_spark.pipeline import run_resumable
        root = os.path.join(self.work, 'out-%d' % i)
        run_resumable(self.spark, self.spark.read.parquet(self.input),
                      root)
        self.roots.append(root)
        return len(self.turns)

    def check(self):
        import oracle
        attempted = failed = 0
        problems = []
        for root in self.roots:
            n_bad, probs = oracle.check_turns(self.turns, _rows(
                root + '/mentions',
                ['conv_id', 'turn_idx', 'rule_id', 'fact_json']))
            probs2, _ = oracle.check_batch(
                self.turns,
                _rows(root + '/triples',
                      ['subj', 'pred', 'obj', 'conv_id', 'turn_idx',
                       'rule_id']),
                _rows(root + '/entity_keys',
                      ['norm_key', 'entity_id', 'canonical']))
            attempted += len(self.turns) + 1
            failed += n_bad + bool(probs2)
            problems += probs + probs2
        return attempted, failed, problems


class Increment(Batch):
    """A diverse base built during set-up, then rounds of chained
    ``run_incremental`` batches."""

    def __init__(self, *a):
        super().__init__(*a)
        self.batches = []       # (path, turns) of round i
        self.chain = []         # (root, turns) in chain order
        self.base_root = os.path.join(self.work, 'base')
        self._gen = self._comp = None

    def make_input(self, rep: int):
        """The base and the first batch; later batches are made by
        ``stage`` only when a longer ``--seconds`` reaches them."""
        import corpus
        import oracle
        self._gen = corpus.DiverseCorpus(_lexicon(), self.seed)
        base = self._gen.base(SIZES['increment']['base'])
        part = oracle.Partition(base)
        self._comp = {part.key[m]: part.find(m) for m in part.key}
        path = os.path.join(self.work, 'base-%d.parquet' % rep)
        corpus.write_turns(base, path, _cores())
        self.batches = []
        self.stage(0, rep)
        return path, base

    def build_base(self) -> None:
        from yargy_spark.pipeline import run_resumable
        run_resumable(self.spark, self.spark.read.parquet(self.input),
                      self.base_root)

    def stage(self, i: int, rep: int = 0) -> None:
        import corpus
        if i < len(self.batches):
            return
        turns = self._gen.increment(SIZES['increment']['batch'],
                                    self._comp)
        path = os.path.join(self.work, 'batch-%d-%d.parquet' % (rep, i))
        corpus.write_turns(turns, path, _cores())
        self.batches.append((path, turns))

    def round(self, i: int) -> int:
        """One ``run_incremental`` batch, chained off the previous
        root (the base for the first)."""
        from yargy_spark.pipeline import run_incremental
        path, turns = self.batches[i]
        prev = self.chain[-1][0] if self.chain else self.base_root
        root = os.path.join(self.work, 'inc-%d' % i)
        run_incremental(self.spark, self.spark.read.parquet(path),
                        prev, root)
        self.chain.append((root, turns))
        return len(turns)

    def check(self):
        import oracle
        self.roots = [self.base_root]
        attempted, failed, problems = super().check()
        prior = {k: (e, c) for k, e, c in _rows(
            self.base_root + '/entity_keys',
            ['norm_key', 'entity_id', 'canonical'])}
        for root, turns in self.chain:
            n_bad, probs = oracle.check_turns(turns, _rows(
                root + '/mentions',
                ['conv_id', 'turn_idx', 'rule_id', 'fact_json']))
            probs2, prior = oracle.check_increment(
                turns, prior,
                _rows(root + '/triples',
                      ['subj', 'pred', 'obj', 'conv_id', 'turn_idx',
                       'rule_id']),
                _rows(root + '/merge_candidates',
                      ['entity_a', 'entity_b']),
                _rows(root + '/entity_keys',
                      ['norm_key', 'entity_id', 'canonical']))
            attempted += len(turns) + 1
            failed += n_bad + bool(probs2)
            problems += probs + probs2
        return attempted, failed, problems


def _traced(wl, spark, tree, tracer, args) -> dict:
    """One job call with its Spark figures, then the layer pass."""
    import layers
    from probes import SparkJobs
    jobs = SparkJobs(spark)
    wl.stage(0)
    with jobs.group('pipeline') as gid, tracer.span('pipeline'):
        wl.round(0)
    m = {'pipeline.wall_s': tracer.wall('pipeline')}
    st = tracer.timed_stats(jobs, gid)
    m['pipeline.jobs'] = st['jobs']
    m['pipeline.task_skew'] = st['task_skew']
    m['pipeline.executor_cpu_s'] = st['executor_cpu_s']
    if isinstance(wl, Increment):
        from yargy_spark.sources import manifest as mf
        prior = mf.read_table(spark, wl.base_root + '/entity_keys') \
            .select('norm_key', 'entity_id', 'canonical').persist()
        m.update(layers.layer_pass(spark, tracer, jobs, tree,
                                   wl.batches[0][0], wl.work, args.seed,
                                   prior_keys=prior))
        prior.unpersist()
    else:
        m.update(layers.layer_pass(spark, tracer, jobs, tree, wl.input,
                                   wl.work, args.seed))
    m['trace.overhead_s'] = tracer.overhead_s
    tracer.write(os.path.join(OUT, 'trace-%s-%d.json'
                              % (args.workload, args.seed)))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True,
                    choices=sorted(SIZES))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, 'yargy_spark',
                                       'pipeline.py')):
        print('kgbench: no yargy_spark package under %s; run from the '
              'repository root' % ROOT, file=sys.stderr)
        return 2

    work = os.path.join(OUT, 'work-%s-%d-%d' % (args.workload,
                                                args.seed, os.getpid()))
    os.makedirs(work)
    os.environ['PYTHONPATH'] = os.pathsep.join(
        p for p in (ROOT, os.environ.get('PYTHONPATH')) if p)
    os.environ['TMPDIR'] = os.path.join(work, 'tmp')
    os.environ['SPARK_GRAFT_DRIVER_MEM'] = JVM_HEAP
    sys.path.insert(0, ROOT)

    from probes import ProcessTree
    spark = None
    try:
        spark = _session(work)
        session_s = time.perf_counter() - T_START
        wl = (Increment if args.workload == 'increment' else Batch)(
            args.workload, spark, work, args.seed)
        reps = []
        for rep in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.prepare(rep)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.build_base()
        t_ready = time.perf_counter()
        base_s = t_ready - t
        setup_s = session_s + statistics.median(reps) + base_s
        tree = ProcessTree()
        tree.sample()

        if args.trace:
            from layers import Tracer
            metrics = _traced(wl, spark, tree, Tracer(), args)
        else:
            t0 = time.perf_counter()
            turns, walls, cpu_s, i = 0, 0.0, 0.0, 0
            while time.perf_counter() - t0 < args.seconds:
                wl.stage(i)
                cpu0 = tree.cpu_s()
                t = time.perf_counter()
                turns += wl.round(i)
                walls += time.perf_counter() - t
                cpu_s += tree.cpu_s() - cpu0
                tree.sample()
                i += 1
            metrics = {
                'setup_s': setup_s,
                'turns_per_s': turns / walls,
                'cpu_s': cpu_s,
                'jvm_peak_rss_mb': tree.jvm_hwm,
                'py_peak_rss_mb': tree.py_workers_mb(),
            }
        t = time.perf_counter()
        attempted, failed, problems = wl.check()
        print('kgbench: setup %.1fs (session %.1fs, repeated steps '
              '%s, base %.1fs), timed %.1fs, check %.1fs, '
              '%d python workers seen' % (
                  setup_s, session_s,
                  '/'.join('%.1fs' % r for r in reps), base_s,
                  t - t_ready, time.perf_counter() - t,
                  len(tree.worker_hwm)), file=sys.stderr)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in problems[:20]:
        print('kgbench: %s' % p, file=sys.stderr)
    units = _units()
    print(json.dumps({
        'correct': failed == 0,
        'attempted': attempted,
        'failed': failed,
        'metrics': {k: {'value': v, 'unit': units[k]}
                    for k, v in sorted(metrics.items())}},
        ensure_ascii=False))
    return 0


def _units() -> dict:
    with open(os.path.join(ROOT, 'BENCHMARK.json'), 'r') as fh:
        spec = json.load(fh)
    return {m['name']: m['unit']
            for m in spec['end_to_end'] + spec['per_layer']}


if __name__ == '__main__':
    sys.exit(main())
