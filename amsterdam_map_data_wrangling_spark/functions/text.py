"""Text-analysis Column expressions for the documents table — all built-in
``pyspark.sql.functions`` (JVM-side, whole-stage codegen); zero Python UDFs.

These are the large-scale-training-pipeline text ops the engine adds beyond
the reference surface (builder's brief): tokenization, n-grams, quality
scoring, language-ID marker scoring, fingerprinting. Each composes into the
oracle-gated queries in ``plans/text.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Marker-token sets for the language-ID heuristic. On real corpora these
#: would be per-language stopword lists; scoring = |tokens ∩ markers| per
#: language, argmax wins with a fixed priority order for ties.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "und", "nicht", "das"),
    "fr": ("le", "et", "les", "des"),
    "es": ("el", "y", "los", "las"),
}

#: "BPE-ish" token pattern: runs of word chars, or a single non-space
#: non-word char (punctuation becomes its own token, as byte-level BPE
#: pre-tokenizers do).
BPE_ISH_PATTERN = r"(\w+|[^\w\s])"


def tokens(text: Column) -> Column:
    """Whitespace tokenization → array<string>."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Token count under the BPE-ish regex (word runs + punctuation marks)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 1))


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def marker_score(text: Column, markers: tuple[str, ...]) -> Column:
    """Number of tokens (with multiplicity) that are in the marker set."""
    return marker_score_tokens(tokens(text), markers)


def marker_score_tokens(toks: Column, markers: tuple[str, ...]) -> Column:
    """:func:`marker_score` over an already-tokenized array column.

    Prefer this in multi-feature projections: tokenize ONCE into a column
    and score each marker set from it — Catalyst will not collapse a
    multiply-referenced non-cheap alias, so the regex split runs once per
    row instead of once per feature (~30% on the lang-ID shape)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def predict_lang(scores: dict[str, Column]) -> Column:
    """Deterministic argmax over per-language marker scores with fixed
    priority order en > de > fr > es (ties go to the earlier language);
    all-zero scores → 'unknown'. Shared by every lang-ID query so Spark
    and oracle CASE chains can't drift."""
    s = scores
    return (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"])
            & (s["en"] >= s["es"]) & (s["en"] > 0),
            "en",
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]) & (s["de"] > 0), "de")
        .when((s["fr"] >= s["es"]) & (s["fr"] > 0), "fr")
        .when(s["es"] > 0, "es")
        .otherwise("unknown")
    )


#: English stopwords for the stopword-ratio quality component (a real
#: pipeline loads a full per-language list; ratio semantics are identical).
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be",
)


def stopword_ratio(text: Column) -> Column:
    """Stopword tokens / total tokens — natural prose sits around
    0.3-0.5; very low values flag lists, tables, and keyword spam."""
    return stopword_ratio_tokens(tokens(text))


def stopword_ratio_tokens(toks: Column) -> Column:
    """:func:`stopword_ratio` over an already-tokenized array column."""
    return marker_score_tokens(toks, STOPWORDS) / F.size(toks)


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """128-bit content fingerprint (md5 hex of the normalized text) — the
    exact-dedup key. Hex md5 is engine-portable (DuckDB computes the same)."""
    return F.md5(normalized_text(text))


def normalized_text_cs(text: Column) -> Column:
    """CASE-SENSITIVE canonical form: collapse whitespace, trim — no
    lowercasing. Equality here implies an identical token sequence under
    :func:`tokens` (split on ``\\s+``), which lowercased equality does not."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def fingerprint_cs(text: Column) -> Column:
    """Case-sensitive content fingerprint. THE fingerprint for invariant
    gates of case-sensitive hash paths (MinHash/SimHash over raw tokens):
    ``fingerprint_cs(a) = fingerprint_cs(b)`` ⇒ ``tokens(a) = tokens(b)`` ⇒
    identical shingle sets / token multisets ⇒ identical signatures in ANY
    hash family. The lowercased :func:`fingerprint` lacks that implication —
    two docs differing only in case share it yet hash to different
    signatures — so using it in an invariant would make the gate spuriously
    fail on a case-only duplicate."""
    return F.md5(normalized_text_cs(text))


def lexical_diversity(text: Column) -> Column:
    """distinct/total token ratio — a quality-score component."""
    return distinct_token_count(text) / token_count(text)


#: Mersenne prime modulus for the rolling hash: keeps every intermediate
#: (acc*31 + x) < 2^37, safely inside int64 on both engines.
ROLLING_MOD = 2_147_483_647


def token_md5_hashes(text: Column) -> Column:
    """Per-token 32-bit hash array: first 8 hex chars of md5, as long —
    engine-portable (DuckDB: list_transform + hex cast)."""
    return F.transform(
        tokens(text),
        lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
    )


def rolling_fingerprint_hashes(th: Column) -> Column:
    """:func:`rolling_fingerprint` over an already-materialized token-hash
    array column (:func:`token_md5_hashes`). ALWAYS stage the array into a
    real column first: this expression references it three times (size
    guard, slice, seed) and Catalyst does not collapse a repeated
    non-trivial array expression — staging measured 2.3x faster."""
    return F.when(F.size(th) == 0, F.lit(0)).otherwise(
        F.aggregate(
            F.slice(th, 2, F.greatest(F.size(th) - 1, F.lit(0))),
            F.element_at(th, 1),
            lambda acc, x: (acc * 31 + x) % ROLLING_MOD,
        )
    )


def rolling_fingerprint(text: Column) -> Column:
    """Order-sensitive polynomial rolling hash over the token stream:
    fold (acc*31 + h(token)) mod M left-to-right, h = first 8 hex chars of
    md5 — every step engine-portable (DuckDB: list_reduce + hex cast).

    Complements :func:`fingerprint` (md5 of the whole text): the rolling
    form is incrementally updatable (streaming append) and usable for
    chunk-level fingerprints at 100 TB. In projections, prefer staging
    :func:`token_md5_hashes` into a column and applying
    :func:`rolling_fingerprint_hashes` (see its docstring)."""
    return rolling_fingerprint_hashes(token_md5_hashes(text))


def chunk_starts(toks: Column, stride: int) -> Column:
    """1-based start offsets of every chunk of a token array under a fixed
    stride (= chunk_size - overlap): [1, 1+stride, 1+2*stride, ...] up to
    the last offset that still has at least one token."""
    return F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))


def chunk_fingerprint(toks: Column, start: Column, chunk_size: int) -> Column:
    """md5 of the space-rejoined token slice [start, start+chunk_size) —
    the engine-portable content witness for a chunk (DuckDB:
    md5(array_to_string(list_slice(...), ' ')))."""
    return F.md5(F.concat_ws(" ", F.slice(toks, start, chunk_size)))


#: the named HTML entities worth decoding without an HTML library —
#: the handful that dominate real crawl text. Numeric entities decode
#: for the full Latin-1 range via a two-step regexp (documented
#: limitation: higher code points pass through as text).
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),  # LAST: un-escaping &amp;lt; early would double-decode
)


def html_to_text(html: Column) -> Column:
    """Crawl-grade HTML → text, entirely JVM-side (regexp_replace
    chain, stays in whole-stage codegen — no Python in the hot path):
    drops <script>/<style>/comments wholesale, turns block-level
    closers and <br> into spaces so words don't fuse across layout
    boundaries, strips every remaining tag, decodes the dominant named
    entities (&amp; deliberately last), and collapses whitespace.

    This is the boilerplate-light cleaning stage between WARC ingestion
    (``sources/archives.read_warc_records`` → http_body) and the text
    quality/dedup pipeline — not a DOM parser: malformed tags degrade
    to text, which for corpus building is the right failure mode."""
    t = html
    t = F.regexp_replace(t, r"(?is)<(script|style)\b.*?</\1\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(
        t, r"(?i)<(br|/p|/div|/h[1-6]|/li|/tr|/table|/blockquote)\b[^>]*>", " "
    )
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for ent, rep in _HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def url_host(url: Column) -> Column:
    """Lower-cased host of a URL, NULL for non-URLs (built-in
    ``try_parse_url`` — JVM-side, ANSI-safe)."""
    return F.lower(F.try_parse_url(url, F.lit("HOST")))


def url_registered_domain(url: Column) -> Column:
    """Last-two-labels approximation of the registrable domain
    (example.com from www.example.com). DOCUMENTED heuristic: correct
    for generic TLDs, one label short for ccTLD registries like
    ``.co.uk`` — crawl curation at 100 TB buckets by this key for
    per-site caps and blocklists, where the approximation error is a
    conservative over-grouping (never under-grouping)."""
    h = url_host(url)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    return F.when(h.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(n <= 2, h).otherwise(
            F.concat_ws(
                ".", F.element_at(parts, n - 1), F.element_at(parts, n)
            )
        )
    )


def url_normalize(url: Column) -> Column:
    """Canonical URL for exact-dedup keys: lower-case scheme+host,
    strip fragments, default ports (:80/:443), and a single trailing
    slash on the bare path. Pure regexp/built-in chain (codegen);
    query strings are KEPT (they select content on real sites —
    dropping them is a recall-losing choice a caller can make
    explicitly)."""
    u = F.regexp_replace(url, r"#.*$", "")
    # Default-port strip is scheme-aware (:80 is only redundant on http,
    # :443 only on https) and boundary-anchored with (?![0-9]) so :8080 /
    # :4430 never match as prefixes (r7 ADVICE: the unanchored form
    # rewrote http://x:8080/ to http://x80/ and corrupted dedup keys).
    u = F.regexp_replace(u, r"(?i)^(http)://([^/:?#]+):80(?![0-9])", r"$1://$2")
    u = F.regexp_replace(
        u, r"(?i)^(https)://([^/:?#]+):443(?![0-9])", r"$1://$2"
    )
    # lower-case ONLY scheme and host (path is case-sensitive)
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z]+)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[a-zA-Z]+://([^/?#]*)", 1))
    rest = F.regexp_replace(u, r"^[a-zA-Z]+://[^/?#]*", "")
    rest = F.when(rest == "/", "").otherwise(rest)
    return F.when(
        scheme == "", url  # not a URL shape: pass through untouched
    ).otherwise(F.concat(scheme, F.lit("://"), host, rest))


def sentences(text: Column) -> Column:
    """Heuristic sentence segmentation, JVM-side: split after [.!?]
    runs followed by whitespace and an upper-case/digit opener —
    the regex stays in codegen, which is what a 100 TB corpus pass
    needs. A heuristic by design (abbreviations like 'Dr.' split);
    corpus chunking wants cheap, deterministic boundaries, not a
    grammar. Empty segments are dropped."""
    parts = F.split(text, r"(?<=[.!?])[\s]+(?=[A-Z0-9\"'])")
    return F.filter(
        F.transform(parts, lambda s: F.trim(s)),
        lambda s: s != "",
    )


def fold_accents(text: Column) -> Column:
    """Unicode NFKD accent folding (café → cafe) as an Arrow-batched
    pandas UDF — the deliberate Python path: Spark ships no ICU, and
    unicodedata is the stdlib's correct answer. Use AFTER filtering to
    the rows that need it (the catalog's UDF discipline); NULLs pass
    through."""
    import pandas as pd  # noqa: F401 - documents the Arrow path
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _fold(s):  # type: ignore[no-untyped-def]
        import unicodedata

        return s.map(
            lambda x: None
            if x is None
            else "".join(
                c
                for c in unicodedata.normalize("NFKD", x)
                if not unicodedata.combining(c)
            )
        )

    return _fold(text)
