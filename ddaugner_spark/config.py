"""Engine configuration: the deterministic dictionary world + Spark tuning.

The reference's gazetteers are JSON name lists (resources/conll_entities.py:7-26,
the_elder_scrolls.py:8-85, …) joined against token n-grams
(fix_ner.py:195-215).  For correctness checking against a DuckDB oracle we
need a gazetteer that is a *pure function of nothing* — declared literally
here and inlined identically into the oracle SQL — over the driver's fixed
30-word synthetic vocabulary (TESTDATA.md).

Dictionary invariants (checked by tests/test_config_invariants):

* surfaces are unique across the whole gazetteer (so the greedy pass
  order (n desc, start asc) is a total order on candidates);
* ``SENT_TERM`` ('the') appears in no dictionary entry, so mention spans
  never straddle a sentence boundary;
* no ``PRED_WORDS`` token appears in any entry, so a predicate token is
  never part of a mention;
* PER entries are unigram-only (the augmentation oracle replaces single
  tokens at PER starts — aug.py:17-37 semantics).

Matching semantics (fix_ner.py:195-215, faithfully): windows of length
n = 5..1 are scanned left-to-right per n; a window whose surface is in
the dictionary and that covers AT LEAST ONE still-'O' position is
retagged ``B-X I-X…`` — overwriting any previously-written tags in the
window.  Overlapping same-length matches therefore BOTH apply (the later
overwrites the earlier's tail), exactly as the reference's ``fix()``
list assignment does.  Spans are then decoded from the final BIO array
with the reference decoder (utils.py:111-166: any ``I-`` extends an open
run, regardless of class).
"""

from __future__ import annotations

# --- sentence segmentation (reference: split after . ? !  datas.py:303-313;
# the synthetic vocabulary has no punctuation, 'the' is the stand-in) ---
SENT_TERM = "the"

# --- gazetteer: class -> surfaces --------------------------------------
ORG_BIGRAMS = ["hash join", "sort merge", "table scan"]
PER_WORDS = ["spark", "customer", "hash"]
LOC_WORDS = ["stream", "window"]

#: multi-token (n = 3..5) entries — fix_ner.py:201 matches names of up to
#: 5 tokens; these deliberately overlap the bigrams/unigrams above to
#: exercise every longest-match / overwrite path:
#: * "fast hash join" / "hash join big" extend the "hash join" bigram on
#:   either side (trigram wins where it matches);
#: * "row column sort" vs "column sort stream": same-length overlapping
#:   matches — the left applies first, the right overwrites its tail;
#: * "value slow hash data" / "hash data row slow slow" contain 'hash'
#:   (a PER unigram) — cross-level suppression.
ORG_NGRAMS = [
    "fast hash join",
    "hash join big",
    "row column sort",
    "column sort stream",
    "value slow hash data",
    "hash data row slow slow",
]
LOC_NGRAMS = ["stream table hash"]

#: (surface, class, weight) — weight plays the role of the reference's
#: per-name sampling weight / link-score prior (resources/*.py samplers).
GAZETTEER = (
    [(s, "ORG", round(0.5 + 0.1 * i, 2)) for i, s in enumerate(ORG_BIGRAMS)]
    + [(s, "PER", round(0.9 + 0.05 * i, 2)) for i, s in enumerate(PER_WORDS)]
    + [(s, "LOC", round(0.3 + 0.2 * i, 2)) for i, s in enumerate(LOC_WORDS)]
    + [(s, "ORG", round(0.4 + 0.05 * i, 2)) for i, s in enumerate(ORG_NGRAMS)]
    + [(s, "LOC", round(0.35 + 0.05 * i, 2)) for i, s in enumerate(LOC_NGRAMS)]
)

#: surface -> class for all entries, and per-length buckets (n desc) —
#: the shape the fix_ner tagger (tagging.DictTaggerModel) consumes.
GAZ_CLASS = {s: c for s, c, _w in GAZETTEER}
GAZ_LEVELS: dict[int, list[tuple[str, str]]] = {}
for _s, _c, _w in GAZETTEER:
    GAZ_LEVELS.setdefault(len(_s.split(" ")), []).append((_s, _c))
GAZ_LEVELS = dict(sorted(GAZ_LEVELS.items(), reverse=True))

#: replacement pool for gazetteer injection (aug.py:94-146 semantics,
#: deterministic index instead of unseeded random.choice — SURVEY.md §4.3)
INJECT_NAMES = ["flink", "presto", "trino", "druid", "impala"]

#: synthetic character list for the alias-expansion / PER-demotion
#: queries (fix_ner.py's ``.characters`` files stand-in).  Mixed shapes:
#: multi-word (sub-combination expansion), title-prefixed (title filter),
#: lowercase components (capitalization filter).  'spark' and 'customer'
#: (PER unigrams) appear as name components so demotion interacts with
#: real corpus mentions: 'hash' deliberately does NOT, so unigram 'hash'
#: PER mentions get demoted.
CHARACTERS = [
    "Spark Streamer",
    "Mr Customer",
    "Old Window Keeper",
    "spark",
    "customer",
]

# --- triple extraction --------------------------------------------------
#: predicate vocabulary: tokens allowed to act as the relation between two
#: mentions in the same sentence.  None of these appear in any gazetteer
#: entry, so a predicate token is never part of a mention.
PRED_WORDS = ["filter", "group", "order"]
#: max token gap between subject end and object start (exclusive bound on
#: scan distance; keeps the candidate join linear in sentence length)
TRIPLE_MAX_GAP = 5

# --- quality / text-stats -----------------------------------------------
STOPWORDS = ["the", "a"]

# --- wordpiece (F12/J5) ---------------------------------------------------
#: engine-owned WordPiece vocabulary (swap point: a real BERT vocab.txt
#: splits into start pieces and '##' continuation pieces the same way).
#: All 26 letters appear in both sets, so no lowercase word ever hits
#: [UNK]; multi-char merges make the greedy longest-match non-trivial
#: (e.g. 'stream' → ['str','##eam'], 'window' → ['wind','##ow']).
WORDPIECE_MAX = 6
_WP_LETTERS = [chr(c) for c in range(ord("a"), ord("z") + 1)]
WORDPIECE_START = sorted(
    set(
        _WP_LETTERS
        + [
            "ha", "hash", "jo", "join", "str", "spark", "sort", "table",
            "scan", "merge", "cust", "qu", "query", "val", "value", "vec",
            "gr", "group", "ord", "order", "fil", "filter", "bat", "batch",
            "col", "column", "li", "line", "key", "row", "data", "slow",
            "fast", "small", "big", "agg", "dup", "part", "the", "wind",
            "stre",
        ]
    )
)
WORDPIECE_CONT = sorted(
    set(
        _WP_LETTERS
        + [
            "er", "ue", "ery", "omer", "tor", "oup", "der", "ter", "ch",
            "umn", "ne", "ey", "ow", "ta", "st", "all", "ig", "gg", "up",
            "rk", "in", "eam", "sh", "oin", "an", "ge", "ble", "dow",
            "ream", "lue", "ast", "ine", "ata", "low",
        ]
    )
)

# --- dedup --------------------------------------------------------------
SHINGLE_K = 3          # token shingles for minhash / jaccard
MINHASH_PERMS = 8      # md5-keyed "permutations"
LSH_BANDS = 4          # 4 bands x 2 rows
JACCARD_THRESHOLD = 0.5

# --- similarity search --------------------------------------------------
COSINE_THRESHOLD = 0.25  # synthetic 64-dim embeddings: max pairwise cosine ≈ 0.4
ANN_TOP_K = 10
IVF_SIGN_DIMS = 4      # coarse cell = sign bits of first 4 dims

# --- skew handling (J6 / BASELINE.json north_star) ----------------------
SALT_BUCKETS = 16

# --- global determinism -------------------------------------------------
SEED = 42


def sql_str_list(values) -> str:
    """Render a python list of strings as a SQL IN-list body."""
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)
