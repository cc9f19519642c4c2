"""Independent oracle for the KG spine, in plain Python.

Given the generator's expected facts it derives, without the program:

* the mentions each turn must yield (compared as multisets of
  ``(rule_id, fact)`` per turn),
* the entity partition, by union-find over the person-like mentions,
  blocked on the full name key and on (conversation, surname lemma),
* each entity's canonical name: its most frequent key, ties broken
  lexicographically,
* the triple count of every predicate,
* for an increment: which earlier entity each mention keeps or
  adopts, which components stay fresh, the merge candidates and the
  rolled-forward key state.

Every check returns a list of problems; an empty list is a pass.
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict

def _fact_key(rule_id: str, fact) -> tuple:
    return rule_id, json.dumps(fact, ensure_ascii=False, sort_keys=True)


def _flatten(data: dict, prefix: str = ''):
    """Attribute paths of a fact: nested facts use dotted paths."""
    for key, value in data.items():
        path = '%s.%s' % (prefix, key) if prefix else key
        if isinstance(value, dict):
            yield from _flatten(value, path)
        elif value is not None:
            yield path


def check_turns(turns, mention_rows):
    """Per-turn mention check.  ``mention_rows`` yields (conv_id,
    turn_idx, rule_id, fact_json).  Returns (failed turns, problems)."""
    got = defaultdict(Counter)
    for conv_id, turn_idx, rule_id, fact_json in mention_rows:
        got[(conv_id, int(turn_idx))][
            _fact_key(rule_id, json.loads(fact_json))] += 1
    failed, problems = 0, []
    for t in turns:
        want = Counter(_fact_key(r, f) for r, f in t.facts)
        have = got.pop((t.conv_id, t.turn_idx), Counter())
        if have != want:
            failed += 1
            problems.append('turn %s/%d: missing %s, extra %s' % (
                t.conv_id, t.turn_idx, sorted(want - have),
                sorted(have - want)))
    for (conv_id, turn_idx), have in sorted(got.items()):
        failed += 1
        problems.append('mentions on unknown turn %s/%d: %s'
                        % (conv_id, turn_idx, sorted(have)))
    return failed, problems


class Partition:
    """Union-find over the expected person mentions of a set of turns.

    A mention is ``(conv_id, turn_idx, rule_id)`` with its key
    'first|last'.  Two mentions join when their keys are equal, or
    when they share a conversation and a surname lemma."""

    def __init__(self, turns):
        self.key = {}
        for t in turns:
            for rule_id, key in t.person_mentions():
                m = (t.conv_id, t.turn_idx, rule_id)
                if m in self.key:
                    raise ValueError('two %s mentions in one turn: %s'
                                     % (rule_id, m))
                self.key[m] = key
        self.parent = {m: m for m in self.key}
        first_of = {}
        for m in sorted(self.key):
            key = self.key[m]
            for block in (('k', key), ('c', m[0], key.split('|')[1])):
                if block in first_of:
                    self._union(first_of[block], m)
                else:
                    first_of[block] = m
        self.members = defaultdict(list)
        for m in sorted(self.key):
            self.members[self.find(m)].append(m)

    def find(self, m):
        while self.parent[m] != m:
            self.parent[m] = self.parent[self.parent[m]]
            m = self.parent[m]
        return m

    def _union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)

    def canonical(self, root) -> str:
        counts = Counter(self.key[m] for m in self.members[root])
        return min(counts, key=lambda k: (-counts[k], k))

    def keys_of(self, root):
        return {self.key[m] for m in self.members[root]}


def expected_predicates(turns, n_entities: int) -> Counter:
    """Triple count per predicate: one per fact attribute, one
    ``mentioned_as`` per person mention, one ``canonical_name`` per
    entity."""
    want = Counter()
    n_person = 0
    for t in turns:
        for rule_id, fact in t.facts:
            want.update(_flatten(fact))
        n_person += len(t.person_mentions())
    if n_person:
        want['mentioned_as'] = n_person
    if n_entities:
        want['canonical_name'] = n_entities
    return want


def _triple_maps(triple_rows):
    """(predicate counts, mention -> subject, subject -> canonical)
    from rows of (subj, pred, obj, conv_id, turn_idx, rule_id)."""
    preds = Counter()
    entity_of, canon, problems = {}, {}, []
    for subj, pred, obj, conv_id, turn_idx, rule_id in triple_rows:
        preds[pred] += 1
        if pred == 'mentioned_as':
            m = (conv_id, int(turn_idx), rule_id)
            if m in entity_of:
                problems.append('mention %s linked twice' % (m,))
            entity_of[m] = subj
        elif pred == 'canonical_name':
            if subj in canon:
                problems.append('entity %s has two canonical names'
                                % subj)
            canon[subj] = obj
    return preds, entity_of, canon, problems


def _check_predicates(preds, want):
    if preds == want:
        return []
    diff = {p: (preds.get(p, 0), want.get(p, 0))
            for p in set(preds) | set(want) if preds.get(p) != want.get(p)}
    return ['triple counts (got, want) differ: %s' % sorted(diff.items())]


def check_batch(turns, triple_rows, key_rows):
    """One ``run_resumable`` call: entity partition, canonical names,
    triple counts per predicate and the entity-key state.
    ``key_rows`` yields (norm_key, entity_id, canonical).  Returns
    (problems, the program's key state as {norm_key: (entity_id,
    canonical)})."""
    part = Partition(turns)
    preds, entity_of, canon, problems = _triple_maps(triple_rows)
    problems += _check_predicates(
        preds, expected_predicates(turns, len(part.members)))
    seen = {}
    for root, members in part.members.items():
        ids = {entity_of.get(m) for m in members}
        if len(ids) != 1 or None in ids:
            problems.append('component of %s split into %s'
                            % (members[0], sorted(map(str, ids))))
            continue
        (eid,) = ids
        if eid in seen:
            problems.append('components %s and %s merged into %s'
                            % (seen[eid], members[0], eid))
        seen[eid] = members[0]
        want = part.canonical(root)
        if canon.get(eid) != want:
            problems.append('entity %s canonical %r, want %r'
                            % (eid, canon.get(eid), want))
    state = {k: (e, c) for k, e, c in key_rows}
    want_state = {}
    for root, members in part.members.items():
        eid = entity_of.get(members[0])
        for key in part.keys_of(root):
            want_state[key] = (eid, part.canonical(root))
    if state != want_state:
        problems.append('entity_keys differ on %d keys' % len(
            set(state.items()) ^ set(want_state.items())))
    return problems, state


def check_increment(turns, prior, triple_rows, merge_rows, key_rows):
    """One ``run_incremental`` call against key state ``prior``
    ({norm_key: (entity_id, canonical)}).

    Expected, per increment component: a mention whose key is prior
    keeps that entity; the other mentions of a component touching
    prior entities adopt the smallest touched id; a component
    touching none is one fresh entity.  Every pair of prior entities
    one component touches is a merge candidate, and the key state
    rolls forward with the increment's keys.  Returns (problems, new
    key state)."""
    part = Partition(turns)
    preds, entity_of, canon, problems = _triple_maps(triple_rows)
    want_entity, want_canon = {}, {}
    want_pairs = set()
    fresh = {}
    for root, members in part.members.items():
        touched = sorted({prior[part.key[m]][0] for m in members
                          if part.key[m] in prior})
        for a_i, a in enumerate(touched):
            for b in touched[a_i + 1:]:
                want_pairs.add((a, b))
        for m in members:
            key = part.key[m]
            if key in prior:
                want_entity[m], want_canon[m] = prior[key]
            elif touched:
                want_entity[m] = touched[0]
                want_canon[m] = next(c for e, c in prior.values()
                                     if e == touched[0])
            else:
                want_entity[m] = ('fresh', root)
                want_canon[m] = part.canonical(root)
    prior_ids = {e for e, _ in prior.values()}
    for m, want in want_entity.items():
        got = entity_of.get(m)
        if isinstance(want, tuple):
            fresh.setdefault(want, set()).add(got)
        elif got != want:
            problems.append('mention %s linked to %s, want %s'
                            % (m, got, want))
    fresh_ids = {}
    for label, ids in fresh.items():
        if len(ids) != 1 or None in ids or ids & prior_ids:
            problems.append('fresh component %s got ids %s'
                            % (label[1], sorted(map(str, ids))))
            continue
        (eid,) = ids
        if eid in fresh_ids:
            problems.append('fresh components %s and %s share %s'
                            % (fresh_ids[eid], label[1], eid))
        fresh_ids[eid] = label[1]
    for m, want in want_canon.items():
        got = canon.get(entity_of.get(m))
        if got != want:
            problems.append('mention %s canonical %r, want %r'
                            % (m, got, want))
    n_entities = len({entity_of.get(m) if isinstance(w, tuple) else w
                      for m, w in want_entity.items()})
    problems += _check_predicates(
        preds, expected_predicates(turns, n_entities))
    got_pairs = {(a, b) for a, b in merge_rows}
    if got_pairs != want_pairs:
        problems.append('merge candidates: missing %s, extra %s' % (
            sorted(want_pairs - got_pairs), sorted(got_pairs - want_pairs)))
    want_state = dict(prior)
    for m, want in want_entity.items():
        key = part.key[m]
        if key not in prior:
            eid = entity_of.get(m) if isinstance(want, tuple) else want
            want_state[key] = (eid, want_canon[m])
    state = {k: (e, c) for k, e, c in key_rows}
    if state != want_state:
        problems.append('rolled entity_keys differ on %d keys' % len(
            set(state.items()) ^ set(want_state.items())))
    return problems, state
