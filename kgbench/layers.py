"""Traced run: each spine layer's public functions called in turn from
the outside, each output materialised, each call inside a span.

Spans (name, start, end, parent) are kept in memory and written once
at the end.  Wall time comes from the spans, CPU time from the process
tree, and job counts, shuffle bytes, executor CPU and task times from
Spark's status tracker and status store.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

EXTRACTORS = ('person', 'person_norm', 'name', 'date', 'money', 'geo',
              'era')
KERNEL_SAMPLE = 1500


class Tracer:
    """In-memory spans.  ``overhead_s`` is the time spent in the
    tracer's own bookkeeping plus the status-store reads it makes."""

    def __init__(self):
        self.spans = []
        self._stack = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        rec = {'id': len(self.spans), 'name': name,
               'parent': self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec['id'])
        rec['start'] = time.perf_counter()
        self.overhead_s += rec['start'] - t_in
        try:
            yield rec
        finally:
            rec['end'] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec['end']

    def wall(self, name: str) -> float:
        rec = next(r for r in self.spans if r['name'] == name)
        return rec['end'] - rec['start']

    def timed_stats(self, jobs, gid: str) -> dict:
        t = time.perf_counter()
        out = jobs.stats(gid)
        self.overhead_s += time.perf_counter() - t
        return out

    def write(self, path: str) -> None:
        """Write the spans, each with its self time: its duration
        minus the time its child spans cover."""
        child = Counter()
        for rec in self.spans:
            if rec['parent'] is not None:
                child[rec['parent']] += rec['end'] - rec['start']
        for rec in self.spans:
            rec['self_s'] = rec['end'] - rec['start'] - child[rec['id']]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, 'w', encoding='utf-8') as fh:
            json.dump(self.spans, fh, indent=0)


def _noop(df) -> None:
    """Materialise every column of ``df`` without keeping it."""
    df.write.format('noop').mode('overwrite').save()


def _dir_size(path: str):
    files, size = 0, 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith('.parquet'):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


class _Clocks:
    """CPU seconds and chart counts gathered by the stand-ins below."""

    def __init__(self):
        self.clock = time.process_time
        self.tokenize = self.interpret = 0.0
        self.parse, self.run, self.hit = Counter(), Counter(), Counter()


class _TimedParser:
    """Stands in for one of the bank's compiled parsers: every call
    goes to the parser; ``tokenize`` and ``findall`` are timed, and
    each ``findall`` counts as one chart run (a hit when it matches).
    The matches it returns time their own interpretation."""

    def __init__(self, parser, name: str, clocks: _Clocks):
        self._parser, self._name, self._c = parser, name, clocks

    def __getattr__(self, attr):
        return getattr(self._parser, attr)

    def tokenize(self, text):
        t = self._c.clock()
        try:
            return self._parser.tokenize(text)
        finally:
            self._c.tokenize += self._c.clock() - t

    def findall(self, text, tokens=None):
        t = self._c.clock()
        self._c.run[self._name] += 1
        try:
            matches = list(self._parser.findall(text, tokens=tokens))
        finally:
            self._c.parse[self._name] += self._c.clock() - t
        self._c.hit[self._name] += bool(matches)
        return [_TimedMatch(m, self._c) for m in matches]


class _TimedMatch:
    def __init__(self, match, clocks: _Clocks):
        self._match, self._c = match, clocks

    def __getattr__(self, attr):
        return getattr(self._match, attr)

    @property
    def tree(self):
        return _TimedTree(self._match.tree, self._c)


class _TimedTree:
    def __init__(self, tree, clocks: _Clocks):
        self._tree, self._c = tree, clocks

    def __getattr__(self, attr):
        return getattr(self._tree, attr)

    def interpret(self):
        t = self._c.clock()
        try:
            return self._tree.interpret()
        finally:
            self._c.interpret += self._c.clock() - t


def kernel_metrics(texts, seed: int) -> dict:
    """The program's ``CompiledBank.run`` over a seeded sample of
    texts, in-process on one core, timed with ``process_time``.

    Each compiled parser of the bank is wrapped from the outside, so
    tokenize, each extractor's parse and interpretation are timed
    where the bank calls them, and ``charts_run.x`` / ``charts_hit.x``
    count the parses extractor x ran and those that matched.
    ``rows_cpu_s`` is the rest of the bank's loop: triggers, row
    build and the wrappers' own bookkeeping."""
    from yargy_spark.extractors import CompiledBank

    bank = CompiledBank()
    clocks = _Clocks()
    bank.parsers = [(name, fact_type, _TimedParser(parser, name, clocks),
                     key_fn, trigger, shares)
                    for name, fact_type, parser, key_fn, trigger, shares
                    in bank.parsers]
    rng = np.random.default_rng(seed)
    if len(texts) > KERNEL_SAMPLE:
        idx = np.sort(rng.choice(len(texts), KERNEL_SAMPLE,
                                 replace=False))
        texts = [texts[i] for i in idx]
    stats = {}
    t_all = clocks.clock()
    for text in texts:
        for _ in bank.run(text, stats=stats):
            pass
    total = clocks.clock() - t_all
    parse = sum(clocks.parse.values())
    out = {'kernel.turns_per_cpu_s': len(texts) / max(total, 1e-9),
           'kernel.tokenize_cpu_s': clocks.tokenize,
           'kernel.interpret_cpu_s': clocks.interpret,
           'kernel.rows_cpu_s': (total - clocks.tokenize - parse
                                 - clocks.interpret),
           'kernel.distinct_texts': len(set(texts))}
    for name in EXTRACTORS:
        out['kernel.parse_cpu_s.' + name] = clocks.parse[name]
        out['kernel.charts_run.' + name] = clocks.run[name]
        out['kernel.charts_hit.' + name] = clocks.hit[name]
    return out


def layer_pass(spark, tracer, jobs, tree, input_path: str, work: str,
               seed: int, prior_keys=None) -> dict:
    """Every layer of the spine over one input table.

    ``prior_keys`` is the entity-key state the incremental linker
    runs against; without one, the input's conversations are split
    by hash and the first half's key state is built (outside any
    span) for the second half to link against."""
    from pyspark.sql import functions as F
    from yargy_spark.extractors import CompiledBank
    from yargy_spark.operators.extract import extract_mentions
    from yargy_spark.operators.linking import (
        connected_components, entity_key_table, link_entities,
        link_entities_incremental, mention_edges)
    from yargy_spark.operators.triples import materialize_triples
    from yargy_spark.sources import manifest as mf

    m = {}
    with tracer.span('sources.scan'):
        src = spark.read.parquet(input_path)
        _noop(src)
    m['sources.scan_s'] = tracer.wall('sources.scan')

    bank = CompiledBank()
    cols = src.select('conv_id', 'turn_idx', 'text')
    trig = cols.where(F.col('text').rlike(bank.trigger_regex))
    with tracer.span('extract.trigger'):
        _noop(trig)
    m['extract.trigger_s'] = tracer.wall('extract.trigger')
    m['extract.trigger_rows_in'] = src.count()
    m['extract.trigger_rows_out'] = trig.count()
    with tracer.span('extract.arrow'):
        _noop(trig.mapInPandas(lambda it: it, trig.schema))
    m['extract.arrow_s'] = tracer.wall('extract.arrow')

    cpu0 = tree.cpu_s()
    with tracer.span('extract'):
        mentions = extract_mentions(src, bank=bank).persist()
        m['extract.mentions_out'] = mentions.count()
    m['extract.cpu_s'] = tree.cpu_s() - cpu0
    m['extract.wall_s'] = tracer.wall('extract')

    texts = [t for t in pq.read_table(input_path, columns=['text'])
             .column('text').to_pylist()
             if t and any(p[4] is None or p[4].search(t)
                          for p in bank.parsers)]
    with tracer.span('kernel'):
        m.update(kernel_metrics(texts, seed))

    with tracer.span('link.edges'):
        edges = mention_edges(mentions).persist()
        m['link.edges_out'] = edges.count()
    m['link.edges_s'] = tracer.wall('link.edges')
    with jobs.group('cc') as gid, tracer.span('link.cc'):
        cc = connected_components(edges).persist()
        cc.count()
    m['link.cc_s'] = tracer.wall('link.cc')
    m['link.cc_jobs'] = tracer.timed_stats(jobs, gid)['jobs']
    cc.unpersist()
    edges.unpersist()
    with jobs.group('link') as gid, tracer.span('link'):
        entities = link_entities(mentions).persist()
        entities.count()
    m['link.wall_s'] = tracer.wall('link')
    m['link.shuffle_mb'] = tracer.timed_stats(jobs, gid)['shuffle_mb']
    m['link.entities_out'] = entities.select('entity_id') \
        .distinct().count()

    with jobs.group('triples') as gid, tracer.span('triples'):
        _noop(materialize_triples(mentions, entities))
    m['triples.wall_s'] = tracer.wall('triples')
    m['triples.shuffle_mb'] = tracer.timed_stats(jobs, gid)['shuffle_mb']
    m['triples.rows_out'] = materialize_triples(mentions,
                                                entities).count()
    entities.unpersist()

    if prior_keys is None:
        half = F.pmod(F.xxhash64('conv_id'), F.lit(2))
        base = mentions.where(half == 0).persist()
        prior_keys = entity_key_table(base, link_entities(base)) \
            .persist()
        prior_keys.count()
        new = mentions.where(half == 1)
    else:
        base, new = None, mentions
    with tracer.span('link_inc'):
        links, merges = link_entities_incremental(new, prior_keys)
        links = links.persist()
        merges = merges.persist()
        m['link_inc.links_out'] = links.count()
        m['link_inc.merge_candidates_out'] = merges.count()
    m['link_inc.wall_s'] = tracer.wall('link_inc')
    with tracer.span('link_inc.keys'):
        _noop(entity_key_table(new, links))
    m['link_inc.keys_s'] = tracer.wall('link_inc.keys')
    for df in (links, merges, prior_keys, base):
        if df is not None:
            df.unpersist()

    root = os.path.join(work, 'manifest_probe')
    with tracer.span('manifest.commit'):
        mf.commit_append(mf.with_bucket(mentions, 16), root,
                         note='mentions', n_buckets=16)
    m['manifest.commit_s'] = tracer.wall('manifest.commit')
    files, size = _dir_size(os.path.join(root, 'data'))
    m['manifest.commit_files'] = files
    m['manifest.commit_mb'] = size / 2 ** 20
    with tracer.span('manifest.read'):
        _noop(mf.read_table(spark, root))
    m['manifest.read_s'] = tracer.wall('manifest.read')
    mentions.unpersist()
    return m
