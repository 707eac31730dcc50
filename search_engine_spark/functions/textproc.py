"""Canonical text processing: tokenizer + per-document parse.

Pure Python, no Spark imports — this module is shared by:

- the Spark parse stage (``operators/parse.py``) which applies it per Arrow
  batch inside ``mapInArrow`` (vectorized transport, per-batch Python loop —
  the only way to get byte/rank-identical semantics, cf. SURVEY.md §2.2),
- driver-side query parsing (queries are tiny),
- the single-process parity oracle (``tests/oracle.py``).

Semantics replicate the reference parser (reference parser_module.py:40-462)
including its quirks. ``word_tokenize`` is a faithful port of the published
Penn Treebank tokenizer rule sequence plus a deterministic sentence splitter
(functions/treebank.py; NLTK's word_tokenize = punkt + Treebank — the punkt
statistical model is the one documented delta). It produces the exact token
shapes the downstream handlers key on (``['#','Tag']``, ``['@','name']``,
``['50','%']``, ``['https',':','//host/path']``, clitic splits,
sentence-final period splits).

Replicated quirks (each unit-tested, see tests/test_textproc.py):

- stopword list built exactly like reference parser_module.py:14-19,
  including the implicit string concatenation ``'}' "'&'"`` which means
  ``}`` itself is NOT a stopword but ``}'&'`` is, and the raw-string
  variants (``r'n\\'t'`` keeps its backslash) that make plain ``'ve``/``'m``/
  ``'ll``/``'re``/``'d`` pass through as tokens while ``n't``/``'s`` are
  dropped;
- 1-char tokens with ``ord > 126`` dropped (parser_module.py:57);
- entity chunks: consecutive capitalized tokens; chunk flushed only on a
  later non-capitalized token (a chunk still open at end-of-text is lost,
  parser_module.py:55-72); chunks of >=2 words are also emitted as one
  lowercase token;
- capital tracking: a capitalized occurrence always (re)sets True because
  the membership check uses the original-cased token against lowercase keys
  (parser_module.py:456-460); a lowercase occurrence sets False; last write
  wins within a doc;
- number normalization: only ``str.isnumeric()`` or comma-bearing tokens
  enter it, so ``3.5 billion`` stays two tokens while ``3 billion`` becomes
  ``3B`` and ``2020`` becomes ``2.02K`` (parser_module.py:82,247-308);
- fraction handling at position 0 reads ``text_tokens[-1]`` (Python negative
  indexing of the *last* token) when the fraction is already reduced
  (parser_module.py:417 with idx=0);
- K/M/B shorthand uses float truthiness, so ``0k`` is not rewritten
  (parser_module.py:91);
- dash splitting splits only at the first dash (parser_module.py:388-399).
"""

from __future__ import annotations

import re
from fractions import Fraction
from typing import NamedTuple

# ---------------------------------------------------------------------------
# Stopwords
# ---------------------------------------------------------------------------

# The standard NLTK english stopword list (public domain corpus data), vendored
# because nltk is not installed in this environment. Order irrelevant (set).
NLTK_ENGLISH_STOPWORDS = [
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom", "this",
    "that", "that'll", "these", "those", "am", "is", "are", "was", "were",
    "be", "been", "being", "have", "has", "had", "having", "do", "does",
    "did", "doing", "a", "an", "the", "and", "but", "if", "or", "because",
    "as", "until", "while", "of", "at", "by", "for", "with", "about",
    "against", "between", "into", "through", "during", "before", "after",
    "above", "below", "to", "from", "up", "down", "in", "out", "on", "off",
    "over", "under", "again", "further", "then", "once", "here", "there",
    "when", "where", "why", "how", "all", "any", "both", "each", "few",
    "more", "most", "other", "some", "such", "no", "nor", "not", "only",
    "own", "same", "so", "than", "too", "very", "s", "t", "can", "will",
    "just", "don", "don't", "should", "should've", "now", "d", "ll", "m",
    "o", "re", "ve", "y", "ain", "aren", "aren't", "couldn", "couldn't",
    "didn", "didn't", "doesn", "doesn't", "hadn", "hadn't", "hasn",
    "hasn't", "haven", "haven't", "isn", "isn't", "ma", "mightn",
    "mightn't", "mustn", "mustn't", "needn", "needn't", "shan", "shan't",
    "shouldn", "shouldn't", "wasn", "wasn't", "weren", "weren't", "won",
    "won't", "wouldn", "wouldn't",
]

# The reference's custom extension, evaluated with the exact same Python
# string literals as reference parser_module.py:15-19 (quirks preserved —
# see module docstring).
_CUSTOM_STOP_EXTENSION = [
    'rt', '“', r'’', r'n\'t', 'n\'t', '\'s', r'\'s', r'\'ve', r'\'m', '...',
    r'\'\'', r'\'d', '&', r'\'ll', r'\'re',
    r' ', r'', r"", r"''", r'""', r'"', r"“", "”", r"’", "‘", r"``", '``',
    r"'", r"`",
    r'!', r'?', r',', r':', r';', r'(', r')', r'...', r'[', ']', r'{',
    '}' "'&'", '.', r'\'d',
    '-', '--',
]

STOP_WORDS = frozenset(NLTK_ENGLISH_STOPWORDS) | frozenset(_CUSTOM_STOP_EXTENSION)

# ---------------------------------------------------------------------------
# Regexes (reference parser_module.py:28-32, 377)
# ---------------------------------------------------------------------------

HASHTAG_SPLIT_RE = re.compile(r"[a-zA-Z0-9](?:[a-z0-9]+|[A-Z0-9]*(?=[A-Z]|$))")
NON_LATIN_RE = re.compile(
    r"[^\x00-\x7F\x80-\xFFĀ-ſƀ-ɏḀ-ỿ’]"
)
LEFT_SLASH_RE = re.compile(r"^-?[0-9]+/0*[1-9][0-9]*$")
RIGHT_SLASH_RE = re.compile(r"^-?[0-9]+\\0*[1-9][0-9]*$")
URL_IN_TEXT_RE = re.compile(r"http\S+|www.\S+")  # unescaped '.' as in reference

_KBM_SHORTS = frozenset("kmbKMB")

# ---------------------------------------------------------------------------
# Tokenizer: Penn Treebank rules + deterministic sentence split
# (functions/treebank.py; the reference's word_tokenize =
# punkt + TreebankWordTokenizer, parser_module.py:48 — the punkt
# approximation is the one documented delta, see treebank.py docstring)
# ---------------------------------------------------------------------------

from search_engine_spark.functions.treebank import word_tokenize  # noqa: F401,E402


# ---------------------------------------------------------------------------
# Scalar helpers (reference parser_module.py operator rows P10-P17, P21)
# ---------------------------------------------------------------------------

def hashtag_split(tag: str) -> list[str]:
    """P10: split a CamelCase/digit hashtag body into words."""
    return HASHTAG_SPLIT_RE.findall(tag)


def convert_string_to_float(s: str):
    """Reference parser_module.py:310-324."""
    if "," in s:
        s = s.replace(",", "")
    try:
        return float(s)
    except (TypeError, ValueError):
        return None


def is_fraction(token: str) -> bool:
    """P12 guard, reference parser_module.py:427-434."""
    return (
        RIGHT_SLASH_RE.match(token) is not None
        or LEFT_SLASH_RE.match(token) is not None
    )


def split_url(url: str | None) -> list[str]:
    """P16/P21: split a URL into lowercase component tokens.

    Reference parser_module.py:326-341 (drops twitter.com/t.co hosts, strips
    a 'www.' prefix at split-part index 3, drops '', 'https', '#...').
    """
    if url is None:
        return []
    r = re.split("[/://?=]", url)
    if "twitter.com" in r or "t.co" in r:
        return []
    if len(r) > 3 and "www." in r[3]:
        r[3] = r[3][4:]
    return [
        x.lower()
        for x in r
        if (x != "" and x != "https" and not x.startswith("#"))
    ]


def clean_text_from_urls(text: str) -> str:
    """P5: remove http/www URLs. Reference parser_module.py:371-378."""
    return URL_IN_TEXT_RE.sub("", text)


def strip_non_latin(text: str) -> str:
    """P6: drop characters outside the Latin ranges. parser_module.py:164."""
    return NON_LATIN_RE.sub("", text)


def clean_web_text(text: str) -> str:
    """The byte-identity invariant: URL removal then non-Latin strip.

    (reference parser_module.py:158-164; per BASELINE.json.input_hint this
    exact byte sequence per url is the per-row invariant.)
    """
    return strip_non_latin(clean_text_from_urls(text))


# ---------------------------------------------------------------------------
# Sentence parser (reference parser_module.py:40-102 + handler methods)
# ---------------------------------------------------------------------------

class ParsedSentence(NamedTuple):
    tokens: list[str]
    capitals: dict[str, bool]
    entities: set[str]


def _handle_hashtags(text_tokens, tokenized_list, idx):
    if len(text_tokens) > idx + 1:
        splitted = hashtag_split(text_tokens[idx + 1])
        tokenized_list.append((text_tokens[idx] + text_tokens[idx + 1]).lower())
        tokenized_list.extend(x.lower() for x in splitted)
        text_tokens[idx + 1] = ""


def _handle_tags(text_tokens, tokenized_list, idx):
    if len(text_tokens) > idx + 1:
        tokenized_list.append((text_tokens[idx] + text_tokens[idx + 1]).lower())
        text_tokens[idx + 1] = ""


def _handle_percent(text_tokens, tokenized_list, idx):
    if idx != 0:
        prev = text_tokens[idx - 1]
        dash_idx = prev.find("-")
        if is_fraction(prev):
            number = prev
        else:
            number = convert_string_to_float(prev)
        if number is not None:
            tokenized_list.append(prev.lower() + "%")
        elif dash_idx != -1:
            left, right = prev[:dash_idx], prev[dash_idx + 1:]
            if left.isnumeric() and right.isnumeric():
                tokenized_list.append(prev.lower() + "%")


def _handle_number(text_tokens, tokenized_list, idx, token):
    number = convert_string_to_float(token)
    if number is None:
        tokenized_list.append(token.lower())
        return

    multiplier = 1
    if len(text_tokens) > idx + 1:
        nxt = text_tokens[idx + 1]
        if nxt in ("%", "percent", "percentage"):
            return
        if nxt.lower() in ("thousand", "million", "billion"):
            multiplier = {"thousand": 1_000, "million": 1_000_000,
                          "billion": 1_000_000_000}[nxt.lower()]
            text_tokens[idx + 1] = ""

    number = number * multiplier
    kmb = ""
    if number >= 1_000_000_000:
        number /= 1_000_000_000
        kmb = "B"
    elif number >= 1_000_000:
        number /= 1_000_000
        kmb = "M"
    elif number >= 1_000:
        number /= 1_000
        kmb = "K"

    # keep at most 3 fraction digits; ".0" collapses to the integer part
    # (reference parser_module.py:294-306 — string manipulation on repr)
    s = str(number)
    if "." in s:
        dot = s.index(".")
        integer, fraction = s[:dot], s[dot:dot + 4]
        s = integer if fraction == ".0" else integer + fraction
    tokenized_list.append(s + kmb)


def _handle_dashes(tokenized_list, token):
    dash_idx = token.find("-")
    after = token[dash_idx + 1:].lower()
    if dash_idx > 0:
        tokenized_list.append(token.lower())
        before = token[:dash_idx].lower()
        if before not in STOP_WORDS:
            tokenized_list.append(before)
        if after not in STOP_WORDS:
            tokenized_list.append(after)
    else:
        if after not in STOP_WORDS:
            tokenized_list.append(after)


def _handle_fraction(text_tokens, tokenized_list, token, idx):
    slash_idx = token.find("\\")
    if slash_idx != -1:
        token = token[:slash_idx] + "/" + token[slash_idx + 1:]
    frac = str(Fraction(token))
    if idx == 0 and frac != token:
        tokenized_list.append(frac.lower())
    else:
        # NOTE: with idx == 0 this reads text_tokens[-1] — the reference's
        # negative-indexing quirk (parser_module.py:417), kept on purpose.
        number = convert_string_to_float(text_tokens[idx - 1])
        if number is not None:
            tokenized_list.append((text_tokens[idx - 1] + " " + token).lower())
            text_tokens[idx] = ""
        elif token != frac:
            tokenized_list.append(frac.lower())
            tokenized_list.append(token.lower())
        else:
            tokenized_list.append(token.lower())


def _append_to_tokenized(tokenized_list, capital_letters, token):
    """Reference parser_module.py:448-462 (see module docstring for quirk)."""
    if len(token) > 0 and token[0].isupper():
        if token not in capital_letters:  # original-cased key: always True
            capital_letters[token.lower()] = True
    else:
        capital_letters[token.lower()] = False
    if token.lower() not in STOP_WORDS:
        tokenized_list.append(token.lower())


#: plain-token fast path (see parse_sentence). Disabled only by the
#: differential test that proves it semantics-identical to the handler chain.
_FAST_PATH = True
_PLAIN_RE = re.compile(r"[a-z0-9]+\Z")
#: plain-shaped tokens that still have dedicated handlers upstream
_FAST_EXCLUDE = frozenset(("percent", "percentage", "https"))


def parse_sentence(text: str, stemmer=None) -> ParsedSentence:
    """Tokenize + normalize one text. Reference parser_module.py:40-102.

    Fast path: a token matching ``[a-z0-9]+`` that is not numeric, does not
    end in k/m/b, and is not percent/percentage/https can, by inspection of
    every handler guard below, only ever reach ``_append_to_tokenized`` via
    the else branch — with a guaranteed-lowercase first char (no capital
    tracking as True, no entity chunk growth) and a known-negative stopword
    recheck. Those facts let the hot loop skip the whole guard chain for
    the overwhelmingly common plain-word case. Equivalence is enforced by a
    differential property test (tests/test_textproc.py) that reruns the
    slow chain with ``_FAST_PATH`` off and asserts identical output.
    """
    text_tokens = word_tokenize(text)
    tokenized_list: list[str] = []
    entity_chunk = ""
    empty_chunk = 0
    capital_letter_indexer: dict[str, bool] = {}
    named_entities: set[str] = set()

    stop = STOP_WORDS
    append = tokenized_list.append
    plain = _PLAIN_RE.match if (_FAST_PATH and stemmer is None) else None

    for idx, token in enumerate(text_tokens):
        # every STOP_WORDS member is lower()-invariant, so membership of the
        # raw token implies membership of token.lower() — same `continue`
        if token in stop:
            continue
        if (
            plain is not None
            and plain(token)
            and token[-1] not in _KBM_SHORTS
            and not token.isnumeric()
            and token not in _FAST_EXCLUDE
        ):
            if entity_chunk != "":
                named_entities.add(entity_chunk[:-1])
                if empty_chunk > 1:
                    append(entity_chunk[:-1].lower())
                entity_chunk = ""
                empty_chunk = 0
            capital_letter_indexer[token] = False
            append(token)
            continue
        if token.lower() in STOP_WORDS or (len(token) == 1 and ord(token) > 126):
            continue

        if len(token) > 0 and token[0].isupper():
            entity_chunk += token + " "
            empty_chunk += 1
        else:
            if entity_chunk != "":
                named_entities.add(entity_chunk[:-1])
                if empty_chunk > 1:
                    tokenized_list.append(entity_chunk[:-1].lower())
                entity_chunk = ""
                empty_chunk = 0

        if token == "#":
            _handle_hashtags(text_tokens, tokenized_list, idx)
        elif token == "@":
            _handle_tags(text_tokens, tokenized_list, idx)
        elif is_fraction(token):
            _handle_fraction(text_tokens, tokenized_list, token, idx)
        elif token in ("%", "percent", "percentage"):
            _handle_percent(text_tokens, tokenized_list, idx)
        elif token.isnumeric() or "," in token:
            _handle_number(text_tokens, tokenized_list, idx, token)
        elif "-" in token and len(token) > 1:
            _handle_dashes(tokenized_list, token)
        elif token == "https" and idx + 2 < len(text_tokens):
            splitted = split_url(text_tokens[idx + 2])
            tokenized_list.extend(x.lower() for x in splitted)
            text_tokens[idx + 2] = ""
        elif token[-1] in _KBM_SHORTS and convert_string_to_float(token[:-1]):
            tokenized_list.append(token.upper())
        else:
            if stemmer is not None:
                token = stemmer.stem_term(token)
            _append_to_tokenized(tokenized_list, capital_letter_indexer, token)

    return ParsedSentence(tokenized_list, capital_letter_indexer, named_entities)


# ---------------------------------------------------------------------------
# Document parser for the web_pages corpus (input_hint shape)
# ---------------------------------------------------------------------------

class ParsedDoc(NamedTuple):
    url: str
    clean_text: str
    doc_length: int
    max_tf: int
    unique_terms: int
    term_tf: dict[str, int]
    capitals: dict[str, bool]
    entities: set[str]


def parse_web_doc(url, text, stemmer=None) -> ParsedDoc | None:
    """Parse one web page row into per-doc index inputs.

    Adaptation of reference parser_module.py:104-191 to the input_hint schema
    (url,warc_ts,html,text,lang): ``url`` is the doc key (tweet_id role),
    ``text`` the full_text role. The page's own ``url`` plays the role of the
    tweet's URL-dict set (always non-empty → URL removal from text always
    runs, and the url's split tokens are appended, parser_module.py:161-174).

    Drop rules (return None) mirror parser_module.py:142-171: missing key
    fields, text empty after cleaning, token list empty after parsing. Note
    ``doc_length`` counts tokens *after* URL-token expansion
    (parser_module.py:174-176).
    """
    if url is None or text is None:
        return None
    full_text = clean_web_text(text)
    if len(full_text) == 0:
        return None

    tokens, capitals, entities = parse_sentence(full_text, stemmer=stemmer)
    if len(tokens) == 0:
        return None

    tokens.extend(split_url(url))

    term_dict: dict[str, int] = {}
    max_tf = 0
    for term in tokens:
        tf = term_dict.get(term, 0) + 1
        term_dict[term] = tf
        if tf > max_tf:
            max_tf = tf

    return ParsedDoc(
        url=url,
        clean_text=full_text,
        doc_length=len(tokens),
        max_tf=max_tf,
        unique_terms=len(term_dict),
        term_tf=term_dict,
        capitals=capitals,
        entities=entities,
    )
