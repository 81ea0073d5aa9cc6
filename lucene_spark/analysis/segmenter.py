"""Dictionary-driven CJK word segmentation — the pluggable-segmenter seam
the reference fills with kuromoji / nori / smartcn
(``analysis/kuromoji/.../JapaneseTokenizer.java:96``,
``analysis/nori/.../KoreanTokenizer.java``): those tokenizers consult a
bundled word dictionary to split unspaced CJK text into words instead of
single ideographs. This module supplies that role at two tiers:

- :class:`DictionarySegmenter` — greedy longest-match over an externally
  supplied word table (the standard no-cost fallback);
- :class:`LatticeSegmenter` — the MeCab cost model those tokenizers
  actually decode with: per-entry word costs + (left_id, right_id)
  connection classes, a connection matrix, minimum-total-cost Viterbi
  over (position, right_id) lattice nodes, single-char unknown-word
  nodes. ``parse_mecab_csv`` / ``parse_mecab_matrix`` read the published
  MeCab dictionary formats, so a real compiled lexicon drops in as data,
  exactly like hunspell's .dic in ``analysis/hunspell.py``. The
  DICTIONARIES themselves stay external data (not bundled).

Spark integration mirrors the rest of the analysis chain: the dictionary
is DRIVER-side data shipped to executors inside the analyzer object (a
broadcast closure), so index builds with ``IndexConfig(analyzer=
DictionarySegmenter(...))`` and the pure-Python oracle use the same code.
The CJK-bigram path (``filters.CJKBigrams``) is untouched — it remains
the no-dictionary fallback, exactly the reference's CJKAnalyzer position.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from lucene_spark.analysis.tokenizer import (
    DEFAULT_MAX_TOKEN_LENGTH,
    StandardAnalyzer,
    Token,
    java_lower,
)

import re

# contiguous run of CJK codepoints (same ranges the StandardAnalyzer's
# per-ideograph rule recognizes — tokenizer.py _CJK_ALL)
_CJK_RUN = re.compile(
    "["
    "一-鿿㐀-䶿豈-﫿"  # Han + ext A + compat
    "぀-ゟ"  # hiragana
    "゠-ヿㇰ-ㇿ"  # katakana (+ phonetic ext)
    "가-힯ᄀ-ᇿ㄰-㆏"  # hangul
    "]+"
)


#: grouped unknown runs are capped like the reference's tokenizer buffers
#: (JapaneseTokenizer caps unknown words at MAX_UNKNOWN_WORD_LENGTH=1024)
MAX_UNKNOWN_LENGTH = 1024


@dataclass
class UnknownCharClass:
    """One unknown-word character class — the MeCab char.def/unk.def model
    the reference's tokenizers decode unknowns with
    (``analysis/kuromoji/.../dict/UnknownDictionary.java``,
    ``dict/CharacterDefinition.java``): characters map to a class, and the
    class says how to build unknown-word lattice candidates.

    - ``chars``:  regex character-class BODY (no brackets) defining
      membership, e.g. ``"゠-ヿㇰ-ㇿ"`` for katakana;
    - ``cost`` / ``left_id`` / ``right_id``: the unknown entry this class
      contributes (unk.def keeps the cheapest row per class, like
      :func:`parse_mecab_csv`);
    - ``invoke``: generate unknown candidates even when dictionary words
      start at the position (char.def INVOKE flag — 0 means unknowns only
      fire where the dictionary is silent);
    - ``group``: emit ONE candidate spanning the maximal same-class run
      (char.def GROUP flag — this is what makes an unseen katakana
      loanword come out as a word, not per-char confetti);
    - ``length``: additionally emit candidates of 1..length chars
      (char.def's third number; 0 = none beyond the grouped run).
    """

    chars: str
    cost: int = 10_000
    left_id: int = 0
    right_id: int = 0
    invoke: bool = False
    group: bool = True
    length: int = 0


@dataclass
class DictionarySegmenter:
    """StandardAnalyzer with dictionary longest-match over CJK runs.

    Non-CJK text tokenizes exactly like :class:`StandardAnalyzer`; each
    contiguous CJK run is split greedily against ``words`` (longest match
    at each offset, single character when nothing matches — the unknown-
    word fallback every dictionary segmenter needs). Positions are
    sequential across the whole stream like any tokenizer's.
    """

    words: frozenset[str] = field(default_factory=frozenset)
    max_token_length: int = DEFAULT_MAX_TOKEN_LENGTH
    stopwords: frozenset[str] = field(default_factory=frozenset)
    #: scripts that segment by dictionary instead of by the base
    #: tokenizer — a regex CHARACTER CLASS body (no brackets). The CJK
    #: default covers the kuromoji/nori role; ICUTokenizer's
    #: dictionary-break scripts add their ranges here, e.g.
    #: ``extra_scripts="฀-๿"`` for Thai (ICUTokenizer.java:49 breaks
    #: Thai/Lao/Khmer/Myanmar with a dictionary, not rules)
    extra_scripts: str = ""

    def __post_init__(self):
        self.words = frozenset(java_lower(w) for w in self.words)
        self._max_word = max((len(w) for w in self.words), default=1)
        self._run = (
            re.compile(
                _CJK_RUN.pattern[:-2] + self.extra_scripts + "]+"
            )
            if self.extra_scripts
            else _CJK_RUN
        )
        self._base = StandardAnalyzer(
            max_token_length=self.max_token_length, stopwords=frozenset()
        )

    #: enforced dictionary bound for from_dataframe — real lexicons fit
    #: comfortably (JMdict-scale is ~200k entries, the same budget
    #: hunspell's broadcast .dic uses); pointing this at a term table
    #: should fail loudly, not OOM the driver.
    MAX_DICT_ENTRIES = 2_000_000

    @classmethod
    def from_dataframe(cls, df, word_col: str = "word", **kw):
        """Collect a word-dictionary table to the driver, guarded by
        ``MAX_DICT_ENTRIES`` so the bound is enforced rather than
        asserted."""
        rows = df.select(word_col).limit(cls.MAX_DICT_ENTRIES + 1).collect()
        if len(rows) > cls.MAX_DICT_ENTRIES:
            raise ValueError(
                f"from_dataframe: dictionary table exceeds "
                f"{cls.MAX_DICT_ENTRIES} entries — this collects to the "
                "driver; a table this size is not a word dictionary"
            )
        return cls(words=frozenset(r[word_col] for r in rows), **kw)

    # ---------------------------------------------------------------- core

    def _segment_run(self, run: str, base: int) -> list[tuple[str, int, int]]:
        """Greedy longest-match over one CJK run -> (word, start, end)."""
        out = []
        i, n = 0, len(run)
        while i < n:
            best = 1
            for ln in range(min(self._max_word, n - i), 1, -1):
                if run[i : i + ln] in self.words:
                    best = ln
                    break
            out.append((run[i : i + best], base + i, base + i + best))
            i += best
        return out

    def _raw(self, text: str) -> list[tuple[str, int, int]]:
        """(lowered term, start, end) stream before stop/length filtering."""
        lowered = java_lower(text)
        out: list[tuple[str, int, int]] = []
        last = 0
        for m in self._run.finditer(lowered):
            if m.start() > last:
                seg = lowered[last : m.start()]
                out.extend(
                    (t.term, last + t.start_offset, last + t.end_offset)
                    for t in self._base.tokens(seg)
                )
            out.extend(self._segment_run(m.group(), m.start()))
            last = m.end()
        if last < len(lowered):
            seg = lowered[last:]
            out.extend(
                (t.term, last + t.start_offset, last + t.end_offset)
                for t in self._base.tokens(seg)
            )
        return out

    # ------------------------------------------- StandardAnalyzer surface

    def tokens(self, text: str) -> list[Token]:
        out: list[Token] = []
        pos = -1
        for term, s, e in self._raw(text):
            if len(term) > self.max_token_length:
                pos += 1
                continue
            pos += 1
            if term in self.stopwords:
                continue
            out.append(Token(term, pos, s, e))
        return out

    def terms(self, text: str) -> list[str]:
        return [t.term for t in self.tokens(text)]

    def field_length(self, text: str) -> int:
        return len(self.tokens(text))

    def emitted_count(self, text: str) -> int:
        return len(self.tokens(text))

    def term_position_arrays(self, text: str):
        import numpy as np

        toks = self.tokens(text)
        terms = [t.term for t in toks]
        pos = np.fromiter(
            (t.position for t in toks), dtype=np.int32, count=len(toks)
        )
        return terms, pos, len(terms)

    def term_position_offset_arrays(self, text: str):
        import numpy as np

        toks = self.tokens(text)
        terms = [t.term for t in toks]
        pos = np.asarray([t.position for t in toks], dtype=np.int32)
        offs = np.asarray(
            [[t.start_offset, t.end_offset] for t in toks], dtype=np.uint32
        ).reshape(-1, 2)
        return terms, pos, offs, len(terms)

    def inverted(self, text: str):
        post: dict[str, list[int]] = {}
        toks = self.tokens(text)
        for t in toks:
            post.setdefault(t.term, []).append(t.position)
        return post, len(toks)


@dataclass
class LatticeSegmenter(DictionarySegmenter):
    """Cost-based Viterbi lattice segmentation — the actual decoding
    model behind the reference's JapaneseTokenizer / KoreanTokenizer
    (``analysis/kuromoji/.../JapaneseTokenizer.java:96``,
    ``nori/.../KoreanTokenizer.java``; the published MeCab model those
    tokenizers implement): every dictionary entry carries a word cost and
    a (left_id, right_id) connection-class pair, a connection matrix
    prices each adjacency, and the emitted segmentation is the minimum-
    total-cost path through the lattice of all dictionary words (plus
    single-character unknown-word nodes) spanning the run.

    This subsumes greedy longest-match (zero costs = prefer fewer, hence
    longer, tokens) and fixes its classic failure: with entries
    {nihon, ninjin, nihonjin, jin} costed like a real lexicon, the run
    nihon+ninjin decodes as [nihon, ninjin] even though longest-match
    would grab nihonjin first and strand a high-cost tail.

    All dictionary data is pluggable (``entries``: word -> (word_cost,
    left_id, right_id); ``connections``: (right_id, left_id) -> cost —
    missing pairs cost 0), so a real MeCab-format lexicon drops in as
    data exactly like hunspell's .dic. Decoding is deterministic: ties
    break toward the LONGER incoming word, then lexicographically.
    """

    entries: dict = field(default_factory=dict)
    connections: dict = field(default_factory=dict)
    #: cost of a single-character unknown-word node — high enough that
    #: any dictionary path is preferred, finite so decoding never fails
    unknown_cost: int = 10_000
    #: connection class of unknown nodes and of the run boundaries
    unknown_id: int = 0
    #: unknown-word character classes (name -> :class:`UnknownCharClass`),
    #: the char.def/unk.def model: a character's FIRST matching class (in
    #: insertion order, like MeCab's code-point table) decides how unknown
    #: runs become candidates. Empty = the flat single-char fallback.
    unknown_classes: dict = field(default_factory=dict)
    #: word -> feature tuple (IPADIC layout: POS1..POS4, conj-form,
    #: conj-type, base, reading, pronunciation) — the token attributes
    #: kuromoji's PartOfSpeechAttribute/ReadingAttribute expose; load
    #: with :func:`parse_mecab_csv_features`
    features: dict = field(default_factory=dict)
    #: POS paths to DROP, matched against every '-'-joined prefix of the
    #: word's POS levels (JapanesePartOfSpeechStopFilter role — the
    #: reference matches the token's full POS string against stoptags,
    #: which the published stoptags list at several depths; prefix
    #: matching honors those multi-depth entries). Dropped tokens leave
    #: a position hole, like stopwords.
    pos_stoptags: frozenset = field(default_factory=frozenset)
    #: feature index to emit INSTEAD of the surface form (the kuromoji
    #: ReadingFormFilter role; IPADIC reading column = 7). None = off.
    #: Unknown words (no features) keep their surface.
    reading_index: int | None = None

    def __post_init__(self):
        self.entries = {
            java_lower(w): tuple(v) for w, v in dict(self.entries).items()
        }
        self._unk = [
            (name, re.compile(f"[{c.chars}]"), c)
            for name, c in dict(self.unknown_classes).items()
        ]
        self.features = {
            java_lower(w): tuple(v) for w, v in dict(self.features).items()
        }
        self.pos_stoptags = frozenset(self.pos_stoptags)
        # DictionarySegmenter's machinery (run splitting, Standard
        # delegation, token surface) keys off `words`; the lattice only
        # changes HOW a run splits.
        self.words = frozenset(self.entries)
        super().__post_init__()

    @classmethod
    def from_dataframe(
        cls,
        df,
        word_col: str = "word",
        cost_col: str = "cost",
        left_col: str = "left_id",
        right_col: str = "right_id",
        **kw,
    ):
        """Collect a costed word table to the driver (same bounded-
        dictionary budget as DictionarySegmenter.from_dataframe)."""
        rows = df.select(word_col, cost_col, left_col, right_col).collect()
        return cls(
            entries={
                r[word_col]: (int(r[cost_col]), int(r[left_col]), int(r[right_col]))
                for r in rows
            },
            **kw,
        )

    def tokens(self, text: str) -> list[Token]:
        """DictionarySegmenter.tokens + the kuromoji attribute filters:
        POS stop-filtering (drops leave position holes, exactly like
        stopwords) and reading-form substitution (offsets keep pointing
        at the surface text)."""
        base = super().tokens(text)
        if not self.pos_stoptags and self.reading_index is None:
            return base
        out: list[Token] = []
        for t in base:
            feats = self.features.get(t.term)
            if self.pos_stoptags and feats and self._pos_dropped(feats):
                continue
            term = t.term
            if (
                self.reading_index is not None
                and feats
                and len(feats) > self.reading_index
            ):
                r = feats[self.reading_index]
                if r and r != "*":
                    term = java_lower(r)
            out.append(Token(term, t.position, t.start_offset, t.end_offset))
        return out

    def _pos_dropped(self, feats: tuple) -> bool:
        path = []
        for f in feats[:4]:  # IPADIC POS hierarchy: first four columns
            if not f or f == "*":
                break
            path.append(f)
            if "-".join(path) in self.pos_stoptags:
                return True
        return False

    def _unknown_candidates(
        self, run: str, i: int, has_dict: bool
    ) -> list[tuple[str, int, int, int]]:
        """Unknown-word lattice candidates at position ``i``.

        With ``unknown_classes`` configured this is the reference's
        UnknownDictionary behavior (kuromoji ``JapaneseTokenizer.java:96``
        unknown-word branch): the character's first matching class decides
        whether unknowns fire at dictionary positions (invoke), whether
        the maximal same-class run becomes ONE candidate (group), and
        which extra 1..length prefixes join the lattice.  Without classes,
        the original flat single-char fallback keeps decoding total.
        """
        ch = run[i]
        n = len(run)
        for _name, rx, cls in self._unk:
            if not rx.match(ch):
                continue
            if has_dict and not cls.invoke:
                return []
            # maximal same-class run from i (capped like the reference)
            j = i + 1
            while j < n and j - i < MAX_UNKNOWN_LENGTH and rx.match(run[j]):
                j += 1
            run_len = j - i
            out = []
            if cls.group:
                out.append(
                    (run[i:j], cls.cost, cls.left_id, cls.right_id)
                )
            for ln in range(1, min(cls.length, run_len) + 1):
                if cls.group and ln == run_len:
                    continue  # the grouped candidate already covers it
                out.append(
                    (run[i : i + ln], cls.cost, cls.left_id, cls.right_id)
                )
            if not out and not has_dict:
                # a group=False/length=0 class must not strand the lattice
                out.append((ch, cls.cost, cls.left_id, cls.right_id))
            return out
        if ch not in self.entries:
            return [(ch, self.unknown_cost, self.unknown_id, self.unknown_id)]
        return []

    def _segment_run(self, run: str, base: int) -> list[tuple[str, int, int]]:
        """Viterbi over one CJK run -> (word, start, end) min-cost path.

        The DP state is (position, right_id) — NOT position alone: the
        connection cost of the NEXT word depends on the incoming
        connection class, so two equal-cost prefixes ending at the same
        position with different right ids are both live (the lattice
        keeps one best path per NODE, exactly the MeCab formulation)."""
        n = len(run)
        conn = self.connections
        # best[i][rid] = (cost, word, start, prev_rid) of the cheapest
        # path covering run[:i] whose last word has connection class rid
        best: list[dict] = [dict() for _ in range(n + 1)]
        best[0][self.unknown_id] = (0, "", 0, self.unknown_id)
        for i in range(n):
            if not best[i]:
                continue
            # dictionary words starting at i, plus the unknown single char
            cands = []
            for ln in range(1, min(self._max_word, n - i) + 1):
                w = run[i : i + ln]
                e = self.entries.get(w)
                if e is not None:
                    cands.append((w, e[0], e[1], e[2]))
            cands.extend(self._unknown_candidates(run, i, bool(cands)))
            for rid_i, (c_i, _, _, _) in best[i].items():
                for w, wcost, lid, rid in cands:
                    j = i + len(w)
                    cost = c_i + wcost + conn.get((rid_i, lid), 0)
                    cur = best[j].get(rid)
                    if (
                        cur is None
                        or cost < cur[0]
                        or (cost == cur[0] and (len(w), w) > (len(cur[1]), cur[1]))
                    ):
                        best[j][rid] = (cost, w, i, rid_i)
        # every position is reachable (the unknown node guarantees it);
        # final tie-break: cheapest, then longer last word, then rid
        out: list[tuple[str, int, int]] = []
        j = n
        rid = min(
            best[n],
            key=lambda r: (best[n][r][0], -len(best[n][r][1]), best[n][r][1], r),
        )
        while j > 0:
            cost, w, i, prev_rid = best[j][rid]
            out.append((w, base + i, base + j))
            j, rid = i, prev_rid
        out.reverse()
        return out


def parse_mecab_csv(csv_text: str) -> dict:
    """MeCab dictionary CSV rows -> LatticeSegmenter ``entries``.

    The published format kuromoji/nori's dictionaries compile from
    (surface,left_id,right_id,word_cost,features...): only the first four
    columns drive segmentation; feature columns (POS, readings) are
    ignored here. Duplicate surfaces keep the CHEAPEST entry — the
    single-entry-per-word simplification this lattice uses (a full
    homograph lattice would key nodes by dictionary entry, not surface;
    the cheapest entry dominates any min-cost path that ignores
    feature-level distinctions with a symmetric connection matrix).
    """
    entries: dict = {}
    for line in csv_text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split(",")
        if len(parts) < 4:
            raise ValueError(f"mecab csv: need 4+ columns in {line!r}")
        surface = parts[0]
        cost_tuple = (int(parts[3]), int(parts[1]), int(parts[2]))
        if surface not in entries or cost_tuple < entries[surface]:
            entries[surface] = cost_tuple
    return entries


def parse_mecab_matrix(matrix_text: str) -> dict:
    """MeCab matrix.def -> LatticeSegmenter ``connections``.

    First line is the 'L R' size header; each following line is
    'right_id left_id cost' (the cost of a word with class right_id
    followed by a word with class left_id). Zero-cost rows are dropped
    (the lattice treats missing pairs as 0).
    """
    conn: dict = {}
    lines = [ln for ln in matrix_text.splitlines() if ln.strip()]
    if not lines:
        return conn
    for ln in lines[1:]:
        parts = ln.split()
        if len(parts) != 3:
            raise ValueError(f"mecab matrix: need 3 fields in {ln!r}")
        r, l, c = int(parts[0]), int(parts[1]), int(parts[2])
        if c != 0:
            conn[(r, l)] = c
    return conn


def parse_mecab_char_def(char_text: str) -> dict:
    """MeCab char.def -> {class_name: :class:`UnknownCharClass`} (costs
    left at defaults until :func:`apply_mecab_unk_csv` merges unk.def).

    The published format the reference's dictionaries compile from
    (``kuromoji/.../dict/CharacterDefinition.java`` reads the compiled
    twin): category lines are ``NAME invoke group length``; mapping lines
    are ``0xXXXX[..0xYYYY] NAME [NAME2 ...]`` (only the first/primary
    category is used here, like the decoder's char->class table).
    Comments (#) and blanks are skipped.  Mapping ranges accumulate into
    each class's regex character-class body, each code point escaped so
    regex metacharacters (``]``, ``\\``, ``^``, ``-``) map literally.
    """
    classes: dict[str, UnknownCharClass] = {}
    ranges: dict[str, list[str]] = {}
    for line in char_text.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line:
            continue
        parts = line.split()
        if parts[0].startswith("0x"):
            lo, _, hi = parts[0].partition("..")
            name = parts[1]
            a = int(lo, 16)
            b = int(hi, 16) if hi else a
            # chars is a regex class BODY: escape each code point so
            # ] \ ^ - stay literal members
            lo_c, hi_c = re.escape(chr(a)), re.escape(chr(b))
            ranges.setdefault(name, []).append(
                lo_c if a == b else f"{lo_c}-{hi_c}"
            )
        else:
            if len(parts) < 4:
                raise ValueError(f"char.def: need 'NAME invoke group length' in {line!r}")
            classes[parts[0]] = UnknownCharClass(
                chars="",
                invoke=bool(int(parts[1])),
                group=bool(int(parts[2])),
                length=int(parts[3]),
            )
    out = {}
    for name, cls in classes.items():
        body = "".join(ranges.get(name, []))
        if not body:
            continue  # DEFAULT et al with no explicit mapping: fallback tier
        cls.chars = body
        out[name] = cls
    return out


def apply_mecab_unk_csv(classes: dict, unk_text: str) -> dict:
    """Merge unk.def rows into :func:`parse_mecab_char_def` output.

    unk.def shares the dictionary CSV shape with the class name as the
    surface: ``CLASS,left_id,right_id,cost,features...``.  Multiple rows
    per class keep the cheapest (same policy as :func:`parse_mecab_csv`);
    classes without a row keep their defaults.  Returns ``classes``.
    """
    best: dict[str, tuple[int, int, int]] = {}
    for line in unk_text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split(",")
        if len(parts) < 4:
            raise ValueError(f"unk.def: need 4+ columns in {line!r}")
        name = parts[0]
        t = (int(parts[3]), int(parts[1]), int(parts[2]))
        if name not in best or t < best[name]:
            best[name] = t
    for name, (cost, lid, rid) in best.items():
        if name in classes:
            classes[name].cost = cost
            classes[name].left_id = lid
            classes[name].right_id = rid
    return classes


def parse_mecab_csv_features(csv_text: str) -> dict:
    """MeCab dictionary CSV rows -> {surface: feature tuple} for the SAME
    rows :func:`parse_mecab_csv` keeps (cheapest entry per surface), so
    the cost model and the attribute model stay consistent.  Features are
    the columns after word_cost — IPADIC layout: POS1..POS4, conj-form,
    conj-type, base form, reading, pronunciation."""
    best: dict[str, tuple] = {}
    feats: dict[str, tuple] = {}
    for line in csv_text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split(",")
        if len(parts) < 4:
            raise ValueError(f"mecab csv: need 4+ columns in {line!r}")
        surface = parts[0]
        cost_tuple = (int(parts[3]), int(parts[1]), int(parts[2]))
        if surface not in best or cost_tuple < best[surface]:
            best[surface] = cost_tuple
            feats[surface] = tuple(parts[4:])
    return feats
