"""Aho-Corasick multi-pattern matcher for ontology-term mention detection.

Re-expresses the reference's SciGraph annotation service semantics
(``Annotations.annotate(content, minLength, longestOnly, ...)``,
``pyontutils/scigraph_client.py:174-197``) as a broadcast-safe automaton:

- patterns are *degraded* labels/synonyms (``lower().strip()``, the join
  normalization of ``interlex_sql.py:22``)
- ``longest_only=True`` -> leftmost-longest non-overlapping match policy
- ``min_length`` -> drop short patterns at build time (annotate's
  ``minLength`` parameter)
- word-boundary guard: a match must not be flanked by alphanumerics
  (SciGraph tokenizes; substring-inside-word matches are never mentions)

The automaton is plain dicts/ints so it pickles compactly into a Spark
broadcast variable and is shared by every Arrow batch on an executor.
Matching is O(len(text) + matches) per document.
"""

from __future__ import annotations

from collections import deque

#: Most patterns compiled into one regex alternation (Python or JVM).
MAX_REGEX_PATTERNS = 20_000


class AhoCorasick:
    __slots__ = ("goto", "fail", "out", "min_length")

    def __init__(self, patterns, min_length: int = 1):
        """patterns: iterable of (pattern_string, payload).  Patterns are
        matched verbatim — normalize (degrade) before building."""
        self.min_length = min_length
        self.goto: list[dict[str, int]] = [{}]
        self.fail: list[int] = [0]
        self.out: list[list[tuple[int, object]]] = [[]]  # (pattern_len, payload)

        for pat, payload in patterns:
            if len(pat) < min_length or not pat:
                continue
            node = 0
            for ch in pat:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    nxt = len(self.goto)
                    self.goto.append({})
                    self.fail.append(0)
                    self.out.append([])
                    self.goto[node][ch] = nxt
                node = nxt
            self.out[node].append((len(pat), payload))

        # BFS fail links
        q = deque()
        for ch, nxt in self.goto[0].items():
            q.append(nxt)
        while q:
            node = q.popleft()
            for ch, nxt in self.goto[node].items():
                q.append(nxt)
                f = self.fail[node]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[nxt] = self.goto[f].get(ch, 0)
                if self.fail[nxt] == nxt:
                    self.fail[nxt] = 0
                self.out[nxt] = self.out[nxt] + self.out[self.fail[nxt]]

    def _raw_matches(self, text: str):
        """Yield (start, end, payload) for every occurrence."""
        node = 0
        goto, fail, out = self.goto, self.fail, self.out
        for i, ch in enumerate(text):
            while node and ch not in goto[node]:
                node = fail[node]
            node = goto[node].get(ch, 0)
            if out[node]:
                for plen, payload in out[node]:
                    yield (i - plen + 1, i + 1, payload)

    @staticmethod
    def _fold(text: str) -> str:
        """Offset-preserving lowercase (some Unicode lowerings change
        length; fall back to per-char in that rare case)."""
        t = text.lower()
        if len(t) == len(text):
            return t
        return "".join(c if len(c.lower()) != 1 else c.lower() for c in text)

    def find(self, text: str, longest_only: bool = True,
             word_boundaries: bool = True):
        """Return [(start, end, payload)] over the original text.

        longest_only: leftmost-longest non-overlapping selection — the
        SciGraph ``longestOnly`` policy (scigraph_client.py:181).
        """
        folded = self._fold(text)
        n = len(folded)
        hits = []
        for s, e, payload in self._raw_matches(folded):
            if word_boundaries:
                if s > 0 and folded[s - 1].isalnum():
                    continue
                if e < n and folded[e].isalnum():
                    continue
            hits.append((s, e, payload))
        if not longest_only:
            hits.sort(key=lambda h: (h[0], -(h[1] - h[0])))
            return hits
        # leftmost-longest, non-overlapping
        hits.sort(key=lambda h: (h[0], -(h[1] - h[0])))
        selected = []
        cur_end = -1
        for s, e, payload in hits:
            if s >= cur_end:
                selected.append((s, e, payload))
                cur_end = e
        return selected


class RegexMatcher:
    """Drop-in alternative to AhoCorasick for small/medium lexicons.

    Compiles one alternation ordered longest-first: ``re.finditer`` scans
    in C, resumes after each match, and ordered alternation tries longer
    patterns first at every position — exactly the leftmost-longest
    non-overlapping policy of ``AhoCorasick.find(longest_only=True)``.
    Word boundaries use explicit alnum lookarounds (``\\b`` would treat
    ``_`` as a word char, diverging from the AC semantics).

    ~10-50x faster than the pure-Python AC loop; the AC remains the
    scale path for very large lexicons (alternation compile time and
    match cost degrade past ~10^5 patterns).
    """

    __slots__ = ("_rx", "_payload", "min_length")

    def __init__(self, patterns, min_length: int = 1):
        import re
        pats: dict[str, object] = {}
        for pat, payload in patterns:
            if len(pat) < min_length or not pat:
                continue
            pats.setdefault(pat, payload)
        ordered = sorted(pats, key=len, reverse=True)
        self._payload = pats
        self.min_length = min_length
        if ordered:
            body = "|".join(re.escape(p) for p in ordered)
            # [^\W_] == "alnum" (any word char except underscore): the
            # exact flank test the AC uses (str.isalnum), incl. Unicode.
            self._rx = re.compile(
                r"(?<![^\W_])(?:" + body + r")(?![^\W_])")
        else:
            self._rx = None

    def find(self, text: str, longest_only: bool = True,
             word_boundaries: bool = True):
        if not longest_only or not word_boundaries:
            raise NotImplementedError(
                "RegexMatcher only implements the longest-only + "
                "word-boundary mode; use AhoCorasick for the rest")
        if self._rx is None:
            return []
        folded = AhoCorasick._fold(text)
        out = []
        for m in self._rx.finditer(folded):
            pat = m.group(0)
            out.append((m.start(), m.end(), self._payload[pat]))
        return out


def build_matcher(patterns, min_length: int = 1):
    """Pick the matcher implementation by lexicon size."""
    patterns = list(patterns)
    if len(patterns) <= MAX_REGEX_PATTERNS:
        return RegexMatcher(patterns, min_length=min_length)
    return AhoCorasick(patterns, min_length=min_length)
