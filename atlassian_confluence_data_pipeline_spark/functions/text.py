"""Built-in column-expression renderings of the reference's scalar
string/URL/file functions (SURVEY.md §2.7). Everything here compiles to
JVM expressions inside whole-stage codegen — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: characters the reference maps to '_' (html_generator.py:294-296)
FORBIDDEN_FILENAME_CHARS = '<>:"/\\|?*'

#: extension -> MIME map (html_generator.py:271-280 subset + default)
MIME_MAP: dict[str, str] = {
    ".png": "image/png",
    ".jpg": "image/jpeg",
    ".jpeg": "image/jpeg",
    ".gif": "image/gif",
    ".pdf": "application/pdf",
    ".txt": "text/plain",
    ".html": "text/html",
    ".svg": "image/svg+xml",
}
DEFAULT_MIME = "application/octet-stream"


def sanitize_filename(name: Column, max_len: int = 200) -> Column:
    """F5 (html_generator.py:284-302): forbidden chars -> '_', truncate
    >max_len to (max_len-3) + '...'."""
    cleaned = F.translate(
        name, FORBIDDEN_FILENAME_CHARS, "_" * len(FORBIDDEN_FILENAME_CHARS)
    )
    return F.when(
        F.length(cleaned) > max_len,
        F.concat(F.substring(cleaned, 1, max_len - 3), F.lit("...")),
    ).otherwise(cleaned)


def file_extension(filename: Column) -> Column:
    """Trailing '.ext' (lowercased), '' when absent."""
    return F.lower(F.regexp_extract(filename, r"(\.[^.]+)$", 1))


def mime_for_filename(filename: Column) -> Column:
    """F6 (html_generator.py:259-282): extension -> MIME via a map
    literal, defaulting to application/octet-stream."""
    pairs: list[Column] = []
    for ext, mime in MIME_MAP.items():
        pairs.append(F.lit(ext))
        pairs.append(F.lit(mime))
    return F.coalesce(
        F.element_at(F.create_map(*pairs), file_extension(filename)),
        F.lit(DEFAULT_MIME),
    )


def cookie_to_map(cookie: Column) -> Column:
    """F11 (secure_cookie_manager.py:205-228): 'a=1; b=2' -> map. The
    reference's hand-rolled split loop is exactly `str_to_map`."""
    return F.str_to_map(cookie, F.lit("; "), F.lit("="))


def substitute_page_id(html: Column, page_id: Column) -> Column:
    """F4 (html_generator.py:75): replace the PAGE_ID template token."""
    return F.replace(html, F.lit("PAGE_ID"), page_id.cast("string"))


def backoff_delay(
    attempt: Column, base_delay: float = 2.0, rate_limited: Column | None = None,
    jitter_seed: int | None = None,
) -> Column:
    """F14 (confluence_client.py:113-234, formula :120): exponential
    backoff ``base * 2^(n-1) + jitter(<=0.5s)``, with the 429 rate-limit
    branch multiplying the base by 5 (:188-194). Connector-internal in
    the reference; exposed as a column function for retry scheduling of
    connector partitions. Jitter is seeded for reproducible tests."""
    base = F.lit(base_delay) * F.when(
        rate_limited if rate_limited is not None else F.lit(False), 5
    ).otherwise(1)
    jitter = (F.rand(jitter_seed) if jitter_seed is not None else F.rand()) * 0.5
    return base * F.pow(F.lit(2.0), attempt.cast("double") - 1) + jitter


#: rolling-hash parameters (Rabin-Karp style polynomial hash)
ROLLING_BASE = 257
ROLLING_MOD = (1 << 31) - 1  # Mersenne prime; products stay < 2^63


def rolling_hash(text: Column) -> Column:
    """Document fingerprint via a character-level polynomial rolling hash
    ``h = (h*B + code(c)) mod M`` — the X4 'document fingerprinting
    (rolling hash)' operator as a pure JVM fold: split to chars,
    transform to code points, aggregate with modular arithmetic (no UDF,
    no overflow: B*M < 2^63)."""
    chars = F.split(text, "")
    codes = F.transform(chars, lambda c: F.ascii(c).cast("bigint"))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda h, c: (h * ROLLING_BASE + c) % ROLLING_MOD,
    )


def rolling_hash_sql(expr: str) -> str:
    """DuckDB rendering of :func:`rolling_hash` over the SQL expression
    ``expr``: the same char-code fold, for the oracles."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(regexp_split_to_array({expr}, ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), "
        f"(h, c) -> (h * {ROLLING_BASE} + c) % {ROLLING_MOD})"
    )


def encrypt_column(col: Column, key: str) -> Column:
    """F15 engine analog (secure_cookie_manager.py:46-70, 90-134: PBKDF2 +
    Fernet over the cookie JSON): AES-GCM column encryption with Spark's
    built-in (key must be 16/24/32 bytes). Returns BINARY ciphertext."""
    return F.aes_encrypt(col.cast("binary"), F.lit(key))


def decrypt_column(col: Column, key: str) -> Column:
    """Inverse of :func:`encrypt_column`; cast the result to string for
    text payloads."""
    return F.aes_decrypt(col, F.lit(key))
