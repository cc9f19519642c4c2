"""Seeded transcript corpora for the KG-spine benchmark.

Every table the program sees is made here from ``--seed`` and written
to parquet; the program gets only those files.  Each generated turn
carries the facts it is expected to yield, so the oracle never reads
the program's own output to decide what is right.

* ``golden_turns`` -- the program's own ``synth_transcripts`` corpus,
  shifted by a seed-derived start turn.  Its expected facts come from
  ``tests/goldens.py`` by the same row-id arithmetic the generator
  uses (every third turn wraps golden sentence ``rid % 17``).
* ``DiverseCorpus`` -- turns drawn from the lexicon parquet with a
  numpy generator: a long tail of name keys, conversation-local
  surname chains, dates, money and ``person_norm`` phrases, plus
  Latin-only tool turns that the JVM trigger must prune.  Distinct
  texts are about equal to turns.
"""

from __future__ import annotations

import os
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TURNS_PER_CONV = 8
ROLES = ('user', 'assistant', 'tool')
CASES = ('nomn', 'gent', 'datv', 'accs', 'ablt', 'loct')
GENDERS = ('masc', 'femn')
TS0 = 1_700_000_000

MONTHS_GENT = ('января', 'февраля', 'марта', 'апреля', 'мая', 'июня',
               'июля', 'августа', 'сентября', 'октября', 'ноября',
               'декабря')
# months whose genitive the program's lexicon analyses; the others are
# out of vocabulary there, so '8 февраля 2015' yields no date (see the
# FOUND line in CHANGES.md).  Every month still appears in ISO dates.
WORD_MONTHS = (1, 3, 4, 5, 6, 7)
# lemmas a filler word must not carry: each one feeds a rule of the
# extractor bank (positions, month and money words, geo and era heads)
RULE_LEMMAS = frozenset(
    ['президент', 'премьер', 'министр', 'управляющий', 'директор',
     'вице-мэр', 'тысяча', 'миллион', 'республика', 'федерация',
     'эра', 'наш', 'площадь', 'улица', 'красный', 'первомайский', 'г',
     'н', 'э', 'до', 'январь', 'февраль', 'март', 'апрель', 'май',
     'июнь', 'июль', 'август', 'сентябрь', 'октябрь', 'ноябрь',
     'декабрь'])
FILLER_POS = frozenset(['NOUN', 'VERB', 'INFN'])
# base corpus: families cycle through these shapes (a chain of k
# conversations, or one conversation naming k members)
FAMILY_SHAPES = (('chain', 2), ('one', 1), ('chain', 3), ('one', 2),
                 ('one', 1), ('chain', 5), ('one', 2), ('chain', 4),
                 ('one', 1))
# increment conversations cycle through these kinds
INCREMENT_KINDS = ('adopt', 'fresh', 'bridge', 'adopt', 'fresh')
LATIN = ('status', 'ok', 'query', 'rows', 'index', 'search', 'result',
         'cache', 'timeout', 'retry', 'done', 'fetch', 'page', 'token',
         'json', 'node', 'shard', 'count', 'latency', 'ready', 'error',
         'none', 'empty', 'found', 'match', 'score', 'source', 'field')

# words of the program's embedded reference lexicon
# (``yargy_spark/kernel/lexicon.py``), frozen here so that a change to
# that lexicon cannot change the inputs of a seed.  The program takes
# these words' readings from that lexicon instead of the parquet (see
# the FOUND line on ``default_morphology`` in CHANGES.md), so name
# lemmas with such a form, and such fillers, are left out.
SHADOWED = frozenset([
    'август', 'александр', 'александру', 'апрель', 'башня',
    'бухгалтер', 'бухгалтера', 'быков', 'вадим', 'вадиму', 'век',
    'владимир', 'владимира', 'врач', 'врачи', 'главного', 'главный',
    'группы', 'декабрь', 'директор', 'диск', 'диске', 'диски',
    'дневник', 'дневники', 'дневником', 'дневнику', 'донецкая',
    'завод', 'заводе', 'закрытое', 'закрытом', 'зоопарк', 'иван',
    'ивана', 'иванов', 'иванова', 'ивановой', 'иванову', 'ивановы',
    'ивановым', 'иваном', 'ивану', 'игореву', 'илье',
    'информационного', 'информационный', 'июль', 'июля', 'июнь',
    'июня', 'красная', 'красной', 'леонид', 'леонида', 'май',
    'марина', 'марину', 'март', 'марта', 'материал', 'материала',
    'маша', 'маше', 'мая', 'миллион', 'министр', 'московская',
    'московский', 'московским', 'музыкальной', 'названием',
    'народная', 'наша', 'нашей', 'неустойка', 'неустойку', 'ноябрь',
    'обществе', 'общество', 'октябрь', 'павлом', 'пени', 'пеня',
    'первомайская', 'первомайскую', 'песни', 'песня', 'площади',
    'площадь', 'погода', 'президент', 'президента', 'премьер',
    'путин', 'путина', 'путиным', 'республика', 'республике',
    'рожков', 'рожкова', 'саша', 'саше', 'сашу', 'семенов',
    'сентябрь', 'сирота', 'слово', 'стал', 'стали', 'сталь',
    'текст', 'текстом', 'тысяч', 'тысяча', 'улица', 'улицу',
    'ульянов', 'ульянова', 'ульяновым', 'управляющий', 'учитель',
    'учителя', 'февраль', 'федерация', 'чеченской', 'электронное',
    'электронные', 'электронный', 'электронным', 'эра', 'эры',
    'январе', 'январь', 'января'])

TRANSCRIPT_SCHEMA = pa.schema([
    ('conv_id', pa.string()), ('turn_idx', pa.int32()),
    ('role', pa.string()), ('text', pa.string()),
    ('tool', pa.string()), ('ts', pa.timestamp('us', tz='UTC'))])


def _key_of(fact: dict):
    """Blocking key of a person-like fact: 'first|last', lowercased."""
    name = fact.get('name', fact)
    first, last = name.get('first'), name.get('last')
    if first and last:
        return '%s|%s' % (str(first).lower(), str(last).lower())
    return None


class Turn:
    """One transcript row plus the (rule_id, fact) pairs it must
    yield."""

    __slots__ = ('conv_id', 'turn_idx', 'role', 'text', 'facts')

    def __init__(self, conv_id, turn_idx, role, text, facts):
        self.conv_id = conv_id
        self.turn_idx = turn_idx
        self.role = role
        self.text = text
        self.facts = facts

    def person_mentions(self):
        """(rule_id, key) for every expected fact with a name key."""
        out = []
        for rule_id, fact in self.facts:
            key = _key_of(fact) if rule_id in (
                'person', 'person_norm', 'name') else None
            if key is not None:
                out.append((rule_id, key))
        return out


def write_turns(turns, path: str, n_files: int) -> None:
    """Write turns as a transcripts parquet table (the program's input
    contract: conv_id, turn_idx, role, text, tool, ts): a directory of
    ``n_files`` part files, so a scan splits as the program's own
    Spark-written tables do."""
    conv_no = [int(t.conv_id[1:]) for t in turns]
    ts = [(TS0 + c * 3600 + t.turn_idx * 60) * 1_000_000
          for c, t in zip(conv_no, turns)]
    table = pa.table({
        'conv_id': [t.conv_id for t in turns],
        'turn_idx': pa.array([t.turn_idx for t in turns], pa.int32()),
        'role': [t.role for t in turns],
        'text': [t.text for t in turns],
        'tool': [('search' if t.role == 'tool' else None)
                 for t in turns],
        'ts': pa.array(ts, pa.timestamp('us', tz='UTC')),
    }, schema=TRANSCRIPT_SCHEMA)
    os.makedirs(path)
    step = -(-len(turns) // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, 'part-%05d.parquet' % i))


# ------------------------------------------------------------ golden

def golden_start_turn(seed: int) -> int:
    """Seed -> conversation-aligned start row of the golden corpus."""
    return (seed % 100_003) * TURNS_PER_CONV


def golden_turns(start_turn: int, n_turns: int, expected_facts):
    """Expected facts of ``synth_transcripts(start_turn=..)`` rows,
    by row-id arithmetic: every third row wraps golden sentence
    ``rid % 17`` (whose facts are ``tests/goldens.py``'s
    ``g0000NN`` entries); the other rows are filler only."""
    by_sentence = defaultdict(list)
    for conv, rule_id, fact in expected_facts:
        by_sentence[int(conv[1:])].append((rule_id, fact))
    turns = []
    for rid in range(start_turn, start_turn + n_turns):
        facts = by_sentence[rid % 17] if rid % 3 == 0 else []
        turns.append(Turn('c%012d' % (rid // TURNS_PER_CONV),
                          rid % TURNS_PER_CONV,
                          ROLES[(rid % TURNS_PER_CONV) % 3], None,
                          list(facts)))
    return turns


# ----------------------------------------------------------- lexicon

def _agree(ga: frozenset, gb: frozenset) -> bool:
    """Gender-number-case agreement of two readings."""
    plur = 'plur' in ga and 'plur' in gb
    number = plur or ('sing' in ga and 'sing' in gb)
    gender = plur or bool(ga & gb & {'masc', 'femn', 'neut'}) or (
        'ms-f' in ga and gb & {'masc', 'femn'}) or (
        'ms-f' in gb and ga & {'masc', 'femn'})
    case = bool(ga & gb & set(CASES))
    return bool(number and gender and case)


class Lexicon:
    """Name, surname and filler pools read from
    ``lexicon_entries.parquet``.

    ``shadowed`` names words whose readings the program takes from
    elsewhere (``SHADOWED``: its embedded reference lexicon wins over
    the parquet on a collision, dropping readings such as feminine
    'путина'); a lemma with any such form, and any such filler, is
    left out."""

    def __init__(self, entries_path: str, shadowed=SHADOWED):
        cols = pq.read_table(entries_path,
                             columns=['word', 'lemma', 'grams'])
        readings = defaultdict(list)
        for word, lemma, grams in zip(cols.column('word').to_pylist(),
                                      cols.column('lemma').to_pylist(),
                                      cols.column('grams').to_pylist()):
            readings[word].append((lemma, frozenset(grams)))
        self.readings = dict(readings)
        # (kind, lemma) -> {case: word} over singular forms
        forms = defaultdict(dict)
        gender, banned = {}, set()
        for word, rs in sorted(self.readings.items()):
            for lemma, grams in rs:
                for kind in ('Name', 'Surn'):
                    if kind in grams and 'sing' in grams:
                        g = grams & set(GENDERS)
                        if len(g) != 1 or 'ms-f' in grams:
                            continue
                        if word in shadowed:
                            banned.add((kind, lemma))
                        gender[(kind, lemma)] = next(iter(g))
                        for case in grams & set(CASES):
                            forms[(kind, lemma)].setdefault(case, word)
        self.forms = dict(forms)
        self.pool = {(kind, g): sorted(
            lemma for (k, lemma), gg in gender.items()
            if k == kind and gg == g and (k, lemma) not in banned)
            for kind in ('Name', 'Surn') for g in GENDERS}
        self.fillers = sorted(
            word for word, rs in self.readings.items()
            if word.isalpha() and len(word) > 2 and word not in shadowed
            and all(grams & FILLER_POS and not grams & {'Name', 'Surn',
                                                        'anim'}
                    and lemma not in RULE_LEMMAS for lemma, grams in rs))
        self._pair_memo = {}

    def single_lemma(self, word: str) -> bool:
        return len({lemma for lemma, _ in self.readings[word]}) == 1

    def pair_lemmas(self, wf: str, wl: str) -> frozenset:
        """Lemma pairs under every agreeing (Name, Surn) reading pair
        of two words."""
        memo = self._pair_memo.get((wf, wl))
        if memo is None:
            memo = frozenset(
                (lf, ll)
                for lf, gf in self.readings.get(wf, ())
                if 'Name' in gf
                for ll, gl in self.readings.get(wl, ())
                if 'Surn' in gl and _agree(gf, gl))
            self._pair_memo[(wf, wl)] = memo
        return memo

    def name_pair(self, first: str, last: str, case: str):
        """Surface words of (first, last) in ``case`` when that pair
        has exactly one agreeing lemma reading, else None."""
        wf = self.forms.get(('Name', first), {}).get(case)
        wl = self.forms.get(('Surn', last), {}).get(case)
        if wf is None or wl is None:
            return None
        if self.pair_lemmas(wf, wl) != {(first, last)}:
            return None
        return wf, wl


def _cap(word: str) -> str:
    return word[:1].upper() + word[1:]


class DiverseCorpus:
    """Seeded long-tail corpus.  ``base`` makes the batch table;
    ``increment`` makes a follow-on batch whose conversations adopt
    earlier keys, bridge two earlier entities or bring fresh keys."""

    def __init__(self, lexicon: Lexicon, seed: int):
        self.lex = lexicon
        self.rng = np.random.default_rng(seed)
        self.next_conv = 0
        self.used_keys = set()

    # --------------------------------------------------- turn parts
    def _fillers(self, lo: int, hi: int):
        n = int(self.rng.integers(lo, hi + 1))
        idx = self.rng.integers(0, len(self.lex.fillers), n)
        return [self.lex.fillers[i] for i in idx]

    def _name_part(self, first: str, last: str, nominative=False):
        """Text and facts for one name mention, or None when no case
        gives an unambiguous agreeing pair."""
        cases = ['nomn'] if nominative else list(
            self.rng.permutation(CASES))
        for case in cases:
            pair = self.lex.name_pair(first, last, case)
            if pair is None:
                continue
            if nominative and not all(self.lex.single_lemma(w)
                                      for w in pair):
                return None
            self.used_keys.add('%s|%s' % (first, last))
            return ('%s %s' % (_cap(pair[0]), _cap(pair[1])),
                    ('name', {'first': first, 'last': last}))
        return None

    def _date_part(self):
        y = int(self.rng.integers(1990, 2031))
        d = int(self.rng.integers(1, 29))
        if self.rng.random() < 0.7:
            m = WORD_MONTHS[int(self.rng.integers(0, len(WORD_MONTHS)))]
            text = '%d %s %d' % (d, MONTHS_GENT[m - 1], y)
        else:
            m = int(self.rng.integers(1, 13))
            text = '%04d-%02d-%02d' % (y, m, d)
        return text, ('date', {'day': d, 'month': m, 'year': y})

    def _money_part(self):
        n = int(self.rng.integers(2, 1000))
        return ('%d тысяч$' % n,
                ('money', {'currency': '$', 'value': '%d тысяч' % n}))

    def _speech(self, names):
        """One user/assistant turn: fillers around zero or more of a
        name mention (or a person_norm phrase), a date and a sum."""
        head = ' '.join(self._fillers(2, 5))
        middle, facts = [], []
        r = self.rng.random()
        if names and r < 0.55:
            first, last = names[int(self.rng.integers(0, len(names)))]
            if r < 0.08:
                got = self._name_part(first, last, nominative=True)
                if got is not None:
                    text, fact = got
                    middle.append('президент ' + text)
                    facts.append(fact)
                    facts.append(('person_norm', {
                        'name': dict(fact[1]), 'position': 'президент'}))
            else:
                got = self._name_part(first, last)
                if got is not None:
                    middle.append(got[0])
                    facts.append(got[1])
        if self.rng.random() < 0.3:
            text, fact = self._date_part()
            middle.append(text)
            facts.append(fact)
        if self.rng.random() < 0.2:
            text, fact = self._money_part()
            middle.append(text)
            facts.append(fact)
        tail = ' '.join(self._fillers(1, 4))
        order = self.rng.permutation(len(middle))
        return ', '.join([head] + [middle[i] for i in order] + [tail]), \
            facts

    def _tool(self):
        n = int(self.rng.integers(3, 9))
        return ' '.join(LATIN[i] for i in
                        self.rng.integers(0, len(LATIN), n))

    def _conversation(self, names):
        conv_id = 'd%012d' % self.next_conv
        self.next_conv += 1
        turns = []
        for t in range(TURNS_PER_CONV):
            role = ROLES[t % 3]
            if role == 'tool':
                turns.append(Turn(conv_id, t, role, self._tool(), []))
            else:
                text, facts = self._speech(names)
                turns.append(Turn(conv_id, t, role, text, facts))
        return turns

    # ------------------------------------------------------ families
    def _pick(self, kind: str, gender: str) -> str:
        pool = self.lex.pool[(kind, gender)]
        return pool[int(self.rng.integers(0, len(pool)))]

    def base(self, n_turns: int):
        """A batch corpus of ``n_turns`` (whole conversations), made
        of surname families in a fixed cycle of shapes, so every seed
        has the same link structure.  A chain of k conversations
        names first names i and i+1 of one family in conversation i,
        so linking it needs several connected-components rounds; a
        single conversation names one or two members of a family."""
        turns = []
        n_conv = n_turns // TURNS_PER_CONV
        family = 0
        while len(turns) < n_conv * TURNS_PER_CONV:
            shape = FAMILY_SHAPES[family % len(FAMILY_SHAPES)]
            family += 1
            gender = GENDERS[int(self.rng.integers(0, 2))]
            last = self._pick('Surn', gender)
            if shape[0] == 'chain':
                firsts = [self._pick('Name', gender)
                          for _ in range(shape[1] + 1)]
                for i in range(shape[1]):
                    turns += self._conversation(
                        [(firsts[i], last), (firsts[i + 1], last)])
            else:
                turns += self._conversation(
                    [(self._pick('Name', gender), last)
                     for _ in range(shape[1])])
        return turns[:n_conv * TURNS_PER_CONV]

    def increment(self, n_turns: int, prior_keys: dict):
        """A follow-on batch.  ``prior_keys`` maps each earlier key
        to its expected component (any hashable label).  Conversations
        cycle through INCREMENT_KINDS: 'adopt' names an earlier key
        next to a fresh first name of the same family, 'bridge' names
        two earlier keys of one surname that sit in different
        components, 'fresh' brings a new key."""
        by_last = defaultdict(list)
        for key, comp in sorted(prior_keys.items()):
            first, last = key.split('|')
            by_last[last].append((first, comp))
        bridges = [(last, fs) for last, fs in sorted(by_last.items())
                   if len({c for _, c in fs}) > 1]
        prior = sorted(prior_keys)
        gender_of = {lemma: g for (kind, g), pool in
                     self.lex.pool.items() if kind == 'Surn'
                     for lemma in pool}
        turns = []
        n_conv = n_turns // TURNS_PER_CONV
        for c in range(n_conv):
            kind = INCREMENT_KINDS[c % len(INCREMENT_KINDS)]
            if kind == 'bridge' and bridges:
                last, fs = bridges[int(self.rng.integers(0,
                                                         len(bridges)))]
                a = fs[int(self.rng.integers(0, len(fs)))]
                others = [f for f in fs if f[1] != a[1]]
                b = others[int(self.rng.integers(0, len(others)))]
                names = [(a[0], last), (b[0], last)]
            elif kind == 'adopt' and prior:
                first, last = prior[int(
                    self.rng.integers(0, len(prior)))].split('|')
                gender = gender_of.get(last, 'masc')
                names = [(first, last),
                         (self._fresh_first(gender, last), last)]
            else:
                gender = GENDERS[int(self.rng.integers(0, 2))]
                last = self._pick('Surn', gender)
                names = [(self._fresh_first(gender, last), last)]
            turns += self._conversation(names)
        return turns

    def _fresh_first(self, gender: str, last: str) -> str:
        for _ in range(64):
            first = self._pick('Name', gender)
            if '%s|%s' % (first, last) not in self.used_keys:
                return first
        return first
