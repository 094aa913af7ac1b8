"""Pure-Python deterministic kernel — the single source of reference semantics.

Per SURVEY.md Caveat 1, the reference snapshot is missing its
``ESGTextProcessor`` module, so this kernel *defines* the reference semantics
for (a) text cleaning — an exact port of ``clean_text``
(/root/reference/scripts/05_text_extraction.py:23-34), (b) HTML→text
extraction (trafilatura-style, mandated by the build target; not present in
the reference which starts from CSV), (c) tokenization
(/root/reference/src/rag/graph_rag.py:306-310), and (d) the entity/relation
extractor whose contract is recovered from call sites
(/root/reference/scripts/01_text_processing.py:32-40,
/root/reference/scripts/06_ontology_construction.py:39-55). There is one
extraction loop, ``Extractor.extract_page``: ``process_text`` wraps its
output as the contract's dicts and ``extract_triples`` turns it into the
pipeline's triples.

Both the single-node oracle (esgkg/oracle.py) and the Spark pandas UDFs
(esgkg/stages/*) call these exact functions, which is what makes the
byte-identity and P/R gates meaningful.

Everything is deterministic: no wall clock, no unseeded randomness, no
platform-dependent hashing (blake2b/crc32 only, never Python ``hash``).
"""

from __future__ import annotations

import hashlib
import html as _htmllib
import re
import struct
import unicodedata

import numpy as np

from . import vocab

# ---------------------------------------------------------------------------
# F1 — clean_text: exact port of /root/reference/scripts/05_text_extraction.py:23-34
# ---------------------------------------------------------------------------

_ZEN2HAN = str.maketrans("０１２３４５６７８９", "0123456789")
_ZEN_DIGITS = "０１２３４５６７８９"
_RE_NLTAB = re.compile(r"[\n\t]+")
_RE_WS = re.compile(r"\s+")


def clean_text(text: object) -> str:
    """Normalize newlines/tabs, collapse whitespace, zenkaku digits → ASCII.

    Semantics are the reference port (see module docstring); the
    implementation is optimized round 6, pytest-asserted byte-identical to
    the two-sub + translate original (test_clean_text_optimized_identical):
    - the `[\\n\\t]+ -> " "` pre-pass is provably redundant under the
      following `\\s+ -> " "` pass (replacing a whitespace subset with a
      space keeps every maximal whitespace run a run, so the second pass
      produces the same string either way) — one regex pass instead of two;
    - `str.translate` walks a codepoint->codepoint dict for EVERY char
      (~17 us on a 1.5 KB page); a membership-gated `str.replace` chain
      over the ten zenkaku digits does 10 C-level scans and copies only
      when a digit is present (~3 us). Replacement chars are ASCII digits,
      disjoint from the zenkaku source set, so chained replaces compose to
      exactly the translate mapping."""
    if not isinstance(text, str):
        return ""
    text = _RE_WS.sub(" ", text)
    for i, zd in enumerate(_ZEN_DIGITS):
        if zd in text:
            text = text.replace(zd, chr(48 + i))
    return text.strip()


# ---------------------------------------------------------------------------
# F2 — extract_text: deterministic trafilatura-style HTML→text
# ---------------------------------------------------------------------------

_RE_COMMENT = re.compile(r"<!--.*?-->", re.S)
_RE_SCRIPT = re.compile(r"<(script|style|noscript)\b[^>]*>.*?</\1\s*>", re.S | re.I)
_RE_BLOCK = re.compile(
    r"</?(?:p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|section|article|"
    r"header|footer|nav|main|aside|blockquote|pre|figure|figcaption|form|title|"
    r"head|body|html)\b[^>]*>",
    re.I,
)
_RE_TAG = re.compile(r"<[^>]+>")


def extract_text(html: object) -> str:
    """HTML bytes/str → visible text. Block tags become newlines; script,
    style, noscript and comments are dropped; entities are unescaped.
    Whitespace is NOT collapsed here — ``clean_text`` owns that step."""
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    if not isinstance(html, str):
        return ""
    s = _RE_COMMENT.sub(" ", html)
    s = _RE_SCRIPT.sub(" ", s)
    s = _RE_BLOCK.sub("\n", s)
    s = _RE_TAG.sub("", s)
    return _htmllib.unescape(s)


def page_text(html: object) -> str:
    """The per-url byte-identical invariant: clean_text ∘ extract_text."""
    return clean_text(extract_text(html))


# ---------------------------------------------------------------------------
# F3 — tokenize: port of /root/reference/src/rag/graph_rag.py:306-310
# (duplicated at /root/reference/src/evaluation/metrics.py:267-271)
# ---------------------------------------------------------------------------

_RE_PUNCT = re.compile(r"[、。！？「」『』（）［］\s]+")


def tokenize(text: str) -> list[str]:
    return [t for t in _RE_PUNCT.sub(" ", text).split(" ") if t]


# ---------------------------------------------------------------------------
# Sentence split (deterministic; JP + EN terminators)
# ---------------------------------------------------------------------------

_RE_SENT = re.compile(r"(?<=[。．！？!?.])\s*")


def split_sentences(text: str) -> list[str]:
    # walrus keeps one strip per part (the old comprehension stripped twice:
    # once for the emptiness test, once for the emitted value)
    return [t for s in _RE_SENT.split(text) if (t := s.strip())]


# ---------------------------------------------------------------------------
# U1 — entity + relation extraction (dictionary NER + pattern RE)
# Contract recovered from /root/reference/scripts/06_ontology_construction.py:39-55
# and /root/reference/scripts/01_text_processing.py:32-40:
#   process_text(text) -> {"entities": [{text, label}],
#                          "relations": [{source, relation, target}]}
# ---------------------------------------------------------------------------

# Company-name pattern: katakana/latin/digit stem (optionally with ・)
# followed by a corporate suffix.
_ORG_PAT = (
    r"[ァ-ヶー一-龯々A-Za-z0-9０-９Ａ-Ｚａ-ｚ・]+(?:株式会社|ホールディングス)"
    r"|[A-Z][A-Za-z0-9]*(?:[ 　][A-Z][A-Za-z0-9]*)*[ 　](?:Inc|Corp|Ltd|Holdings)"
)
_LAW_PAT = "|".join(re.escape(x) for x in vocab.LAWS)


class Extractor:
    """Compiled dictionary NER + template relation extractor.

    Build once per process / per Spark partition (Iterator pandas UDF init);
    stateless and deterministic afterwards.
    """

    def __init__(self) -> None:
        surfaces = vocab.all_concept_surfaces()
        self.surface_to_concept = surfaces
        concept_alt = "|".join(
            re.escape(s) for s in sorted(surfaces, key=lambda x: (-len(x), x))
        )
        # Order matters: LAW beats CONCEPT beats ORG only via group order.
        self.ent_re = re.compile(
            f"(?P<LAW>{_LAW_PAT})|(?P<ORG>{_ORG_PAT})|(?P<CONCEPT>{concept_alt})"
        )
        ent = f"(?:{_LAW_PAT}|{_ORG_PAT}|{concept_alt})"
        self.rel_res: list[tuple[str, re.Pattern[str], str]] = []
        for pred, ja_tpl, en_tpl in vocab.RELATION_TEMPLATES:
            for tpl in (ja_tpl, en_tpl):
                head, rest = tpl.split("{s}")[1].split("{o}")
                rest = rest.rstrip("。.")
                pat = (
                    f"(?P<s>{ent}){re.escape(head)}"
                    f"(?P<o>{ent}){re.escape(rest)}"
                )
                # cheapest-possible prefilter literal: the template's most
                # selective fixed text (the ja head is just "は", shared by
                # every template — the rest/en-head discriminates). A
                # sentence that doesn't contain this literal cannot match
                # the pattern (it appears escaped in the regex), so
                # `relations` skips the expensive big-alternation finditer —
                # measured ~4x on the per-sentence extraction hot loop.
                sel = max((head, rest), key=len)
                self.rel_res.append((pred, re.compile(pat), sel))

    def entities(self, sentence: str) -> list[tuple[str, str, int, int]]:
        """Non-overlapping left-to-right longest matches → (text, label, begin, end)."""
        out = []
        for m in self.ent_re.finditer(sentence):
            label = m.lastgroup or "CONCEPT"
            out.append((m.group(0), label, m.start(), m.end()))
        return out

    def relations(self, sentence: str) -> list[tuple[str, str, str]]:
        """Template matches → (source_surface, pred, target_surface)."""
        out = []
        for pred, rx, sel in self.rel_res:
            if sel and sel not in sentence:
                continue  # literal prefilter — see __init__
            for m in rx.finditer(sentence):
                out.append((m.group("s"), pred, m.group("o")))
        return out

    def extract_page(self, text: str
                     ) -> tuple[list[tuple[str, str]], list[tuple[str, str, str]]]:
        """One page's ((surface, label), ...) entities and
        ((source, pred, target), ...) relations, sentence by sentence, each
        deduplicated in first-occurrence order — the loop behind both
        ``process_text`` and ``extract_triples``."""
        ents: list[tuple[str, str]] = []
        rels: list[tuple[str, str, str]] = []
        for sent in split_sentences(text):
            ents.extend((surface, label)
                        for surface, label, _, _ in self.entities(sent))
            rels.extend(self.relations(sent))
        return list(dict.fromkeys(ents)), list(dict.fromkeys(rels))

    def process_text(self, text: str) -> dict:
        """The recovered ESGTextProcessor.process_text contract."""
        ents, rels = self.extract_page(text)
        return {
            "entities": [{"text": t, "label": lb} for t, lb in ents],
            "relations": [
                {"source": s, "relation": p, "target": o} for s, p, o in rels
            ],
        }


_EXTRACTOR: Extractor | None = None


def get_extractor() -> Extractor:
    global _EXTRACTOR
    if _EXTRACTOR is None:
        _EXTRACTOR = Extractor()
    return _EXTRACTOR


_INSTANCE_LABELS = frozenset(vocab.INSTANCE_LABELS)


def extract_triples(text: str, url: str) -> list[tuple[str, str, str, str]]:
    """Full per-page triple emission: the page's template relations, then
    (org, instance_of, Organization) for each ORG/LAW-routed entity not
    already emitted (routing per
    /root/reference/scripts/06_ontology_construction.py:42-47, add_instance
    per ontology.py:110). Both come from ``Extractor.extract_page``, the
    loop ``process_text`` runs."""
    ents, rels = get_extractor().extract_page(text)
    rels += [(surface, "instance_of", "Organization")
             for surface, label in ents if label in _INSTANCE_LABELS]
    return [(s, p, o, url) for s, p, o in dict.fromkeys(rels)]


def categorize(text: str) -> list[str]:
    """Multi-label E/S/G category per the reference keyword predicate
    (/root/reference/scripts/05_text_extraction.py:85-106)."""
    return [
        cat
        for cat, kws in vocab.CATEGORY_KEYWORDS.items()
        if any(kw in text for kw in kws)
    ]


# ---------------------------------------------------------------------------
# Deterministic hashing (minhash / embeddings)
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1


def stable_hash64(s: str, seed: int = 0) -> int:
    """Deterministic 64-bit hash (blake2b keyed by seed)."""
    h = hashlib.blake2b(
        s.encode("utf-8"), digest_size=8, key=seed.to_bytes(8, "little")
    )
    return struct.unpack("<Q", h.digest())[0]


def char_shingles(s: str, n: int = 3) -> set[str]:
    if len(s) < n:
        return {s} if s else set()
    return {s[i : i + n] for i in range(len(s) - n + 1)}


def _minhash_params(k: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(7919)
    a = rng.randint(1, _MERSENNE, size=k, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=k, dtype=np.int64)
    return a, b


_MH_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def minhash_signature(s: str, k: int = 32, ngram: int = 3) -> np.ndarray:
    """k 64-bit minhashes over char n-gram shingles (affine transforms of one
    blake2b base hash per shingle; all arithmetic mod 2^61-1). Kept as the
    reference `minhash_signatures_batch` is tested against; production code
    calls the batch version."""
    if k not in _MH_CACHE:
        _MH_CACHE[k] = _minhash_params(k)
    a, b = _MH_CACHE[k]
    sh = char_shingles(s, ngram)
    if not sh:
        return np.zeros(k, dtype=np.int64)
    base = np.array(
        [stable_hash64(g) % _MERSENNE for g in sorted(sh)], dtype=np.uint64
    )
    # (a*h + b) mod p, vectorized over shingles x k via object-free uint math
    sig = np.empty(k, dtype=np.int64)
    for i in range(k):
        vals = (base * np.uint64(a[i]) + np.uint64(b[i])) % np.uint64(_MERSENNE)
        sig[i] = int(vals.min())
    return sig


# grams per affine-transform chunk of `minhash_signatures_batch`: bounds its
# (grams × k) uint64 intermediate at 200k × 32 × 8 B ≈ 51 MB
MAX_GRAMS_PER_CHUNK = 200_000


def minhash_signatures_batch(strings: list[str], k: int = 32,
                             ngram: int = 3) -> np.ndarray:
    """Vectorized `minhash_signature` over a batch → (len(strings), k)
    int64, row-for-row BYTE-IDENTICAL to the scalar function (pytest
    asserts equality): same sorted-shingle order, same uint64 wrap-around
    affine transform, same mod-Mersenne reduction. Two wins over calling
    the scalar k-loop per string: the (grams × k) affine transform runs as
    ONE numpy outer-product with a segment-min (`np.minimum.reduceat`)
    instead of k tiny-array ops per string, and the per-shingle blake2b
    base hash is memoized across the batch (surface vocabularies repeat
    shingles heavily). ~10x on vocabulary-shaped batches — this is the
    banding hot path of canonicalization. Chunked by total gram count
    (`MAX_GRAMS_PER_CHUNK`, read when called) so the intermediate matrix
    stays bounded regardless of batch/text size."""
    if k not in _MH_CACHE:
        _MH_CACHE[k] = _minhash_params(k)
    a, b = _MH_CACHE[k]
    au, bu = a.astype(np.uint64), b.astype(np.uint64)
    p = np.uint64(_MERSENNE)
    out = np.zeros((len(strings), k), dtype=np.int64)
    gram_cache: dict[str, int] = {}
    idxs: list[int] = []
    bases: list[np.ndarray] = []
    counts: list[int] = []
    pending = 0

    def flush() -> None:
        nonlocal idxs, bases, counts, pending
        if not idxs:
            return
        flat = np.concatenate(bases)
        vals = (flat[:, None] * au[None, :] + bu[None, :]) % p
        offsets = np.cumsum([0] + counts[:-1])
        mins = np.minimum.reduceat(vals, offsets, axis=0)
        out[idxs] = mins.astype(np.int64)
        idxs, bases, counts, pending = [], [], [], 0

    for i, s in enumerate(strings):
        sh = char_shingles(s, ngram)
        if not sh:
            continue  # row stays zeros(k) — the scalar contract
        hs = np.empty(len(sh), dtype=np.uint64)
        for j, g in enumerate(sorted(sh)):
            v = gram_cache.get(g)
            if v is None:
                v = stable_hash64(g) % _MERSENNE
                gram_cache[g] = v
            hs[j] = v
        idxs.append(i)
        bases.append(hs)
        counts.append(len(hs))
        pending += len(hs)
        if pending >= MAX_GRAMS_PER_CHUNK:
            flush()
    flush()
    return out


def band_hashes(sig: np.ndarray, bands: int) -> list[int]:
    """Split signature into bands, hash each band → bucket key."""
    rows = len(sig) // bands
    out = []
    for bi in range(bands):
        chunk = sig[bi * rows : (bi + 1) * rows]
        h = hashlib.blake2b(chunk.tobytes(), digest_size=8).digest()
        out.append(struct.unpack("<q", h)[0])
    return out


def jaccard(a: str, b: str, ngram: int = 3) -> float:
    sa, sb = char_shingles(a, ngram), char_shingles(b, ngram)
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def edit_similarity(a: str, b: str) -> float:
    """1 - levenshtein/max_len — the precision-side pair verifier. LSH-Jaccard
    gives candidate recall; this rejects lookalikes that share shingles but
    differ structurally (e.g. same-sector company names with near stems)."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if la > lb:
        a, b, la, lb = b, a, lb, la
    prev = list(range(la + 1))
    for j in range(1, lb + 1):
        cur = [j] + [0] * la
        bj = b[j - 1]
        for i in range(1, la + 1):
            cur[i] = min(
                prev[i] + 1,
                cur[i - 1] + 1,
                prev[i - 1] + (a[i - 1] != bj),
            )
        prev = cur
    return 1.0 - prev[la] / lb


# ---------------------------------------------------------------------------
# U6 — deterministic hash-embedding stub (sandbox replacement for the
# transformer encoder /root/reference/src/rag/graph_rag.py:70-94; L2-normalized
# so cosine == dot, matching the reference's normalize step at :92-94)
# ---------------------------------------------------------------------------

EMBED_DIM = 64


def hash_embed(text: str) -> np.ndarray:
    """Char-3gram feature hashing into `EMBED_DIM` buckets with ±1 signs,
    L2-normed."""
    v = np.zeros(EMBED_DIM, dtype=np.float64)
    norm = unicodedata.normalize("NFKC", text).lower()
    grams = [norm[i : i + 3] for i in range(max(1, len(norm) - 2))]
    for g in grams:
        h = stable_hash64(g, seed=5)
        v[h % EMBED_DIM] += 1.0 if (h >> 32) & 1 else -1.0
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).astype(np.float32)
