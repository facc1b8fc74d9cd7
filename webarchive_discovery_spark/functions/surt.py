"""SURT keys, host-level expansion, and public/private suffix extraction.

Semantics from the reference's ``LinkExtractor``
(``warc-indexer/src/main/java/uk/bl/wa/extract/LinkExtractor.java:58-234``)
and ``SURT.toSURT`` usage (``WARCIndexer.java:619-625``), validated against
the host-SURT goldens in ``WARCIndexerTest.java:340-359``
(``archive.org → ["(org,", "(org,archive,"]``).
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

from .normalisation import canonicalise_url
from .psl import public_suffix_of as _psl_suffix

__all__ = [
    "all_levels",
    "surt_key_from_canonical",
    "extract_host",
    "extract_public_suffix",
    "extract_private_suffix",
    "host_surts",
    "surt_key",
    "to_surt",
]

MALFORMED_HOST = "malformed.host"

# RFC-952-ish host validation as in LinkExtractor.extractHost
_VALID_HOST = re.compile(r"^[A-Za-z0-9._\-]+$")
_IPV4 = re.compile(r"^\d{1,3}(\.\d{1,3}){3}$")

def extract_host(url: str) -> str:
    """Host of a URL with RFC-952-style validation; ``malformed.host``
    sentinel on failure (``LinkExtractor.extractHost``)."""
    try:
        host = urlsplit(url).hostname
    except Exception:
        return MALFORMED_HOST
    if not host or not _VALID_HOST.match(host):
        return MALFORMED_HOST
    return host


def _is_ip(host: str) -> bool:
    return bool(_IPV4.match(host)) or host.replace(".", "").isdigit()


def extract_public_suffix(host: str | None) -> str | None:
    """Public suffix via the embedded PSL snapshot (exact/wildcard/exception
    rules, longest match — ``psl.public_suffix_of``), with the reference's
    ``.uk`` 2-label override taking precedence
    (``LinkExtractor.extractPublicSuffixFromHost``)."""
    if not host:
        return None
    host = host.rstrip(".").lower()
    if _is_ip(host):
        return None
    parts = host.split(".")
    if len(parts) < 2:
        return None
    if host.endswith(".uk"):
        return ".".join(parts[-2:])
    return _psl_suffix(host)


def extract_private_suffix(host: str | None) -> str | None:
    """Registered (private) domain — public suffix + one label; ``.uk``
    forced to 3 labels (``LinkExtractor.extractPrivateSuffixFromHost``).
    Falls back to the host itself when no deeper label exists."""
    if not host:
        return None
    host = host.rstrip(".").lower()
    if _is_ip(host):
        return host
    parts = host.split(".")
    if host.endswith(".uk"):
        return ".".join(parts[-3:]) if len(parts) >= 3 else host
    suffix = extract_public_suffix(host)
    if suffix is None:
        return host
    n = len(suffix.split(".")) + 1
    return ".".join(parts[-n:]) if len(parts) >= n else host


def all_levels(host: str | None) -> list[str]:
    """Every registry level of a host, shallow→deep:
    ``bbc.co.uk → [uk, co.uk, bbc.co.uk]``
    (``LinkExtractor.allLevels``; IP hosts yield an empty list)."""
    if not host:
        return []
    host = host.rstrip(".").lower()
    if _is_ip(host) or "." not in host and not host.isalpha():
        return []
    if _is_ip(host):
        return []
    parts = host.split(".")
    return [".".join(parts[i:]) for i in range(len(parts) - 1, -1, -1)]


def to_surt(host: str) -> str:
    """SURT form of a bare host: ``archive.org → (org,archive,``
    (``SURT.toSURT`` as used by ``WARCIndexer.java:619-625``)."""
    return "(" + ",".join(reversed(host.split("."))) + ","


def host_surts(host: str | None) -> list[str]:
    """Multi-valued ``host_surt`` field: SURT of every host level
    (goldens ``WARCIndexerTest.java:340-359``)."""
    return [to_surt(level) for level in all_levels(host)]


def surt_key(url: str) -> str:
    """Full-URL SURT sort key used for global fetch ordering (the analog of
    the CDX ``urlkey`` in ``ArchiveCDXGenerator``'s total-order sort):
    canonicalise, then ``(tld,dom,[sub,]*)path[?query]``."""
    return surt_key_from_canonical(canonicalise_url(url))


def surt_key_from_canonical(canon: str) -> str:
    """SURT key from an ALREADY-canonical URL (skips re-canonicalization —
    use when ``canonicalise_url`` output is already at hand)."""
    # Fast path (r6): manual authority/path/query split for the canonical
    # ``http://`` shape without userinfo/IPv6 — ~5 µs/url of urlsplit's lazy
    # hostname/port properties were the UDF pass's second cost after
    # canonicalise itself.  Semantics replicated exactly: fragment dropped,
    # host lower-cased, port digits-only with 0..65535 range (out-of-range/
    # non-digit ports return ``canon`` like the except-branch below), :80
    # elided, empty path → "/".  Anything else falls through to urlsplit,
    # including URLs holding \t \r \n, which urlsplit strips everywhere.
    if (canon.startswith("http://")
            and "\t" not in canon and "\r" not in canon and "\n" not in canon):
        rest = canon[7:]
        end = len(rest)
        for sep in "/?#":
            j = rest.find(sep)
            if j != -1 and j < end:
                end = j
        auth = rest[:end]
        if auth and "@" not in auth and "[" not in auth and "]" not in auth:
            # urlsplit's _hostinfo splits at the FIRST colon: everything
            # after it must be a valid port or .port raises (→ canon).
            # Only plain-ASCII digit ports take the fast path — exotic
            # "numeric" strings (int underscores, unicode digits,
            # superscripts) fall through to urlsplit so its exact accept/
            # reject behavior decides.
            host, sep, p = auth.partition(":")
            port = ""
            ok = True
            if sep:
                if p == "":
                    port = ""
                elif p.isascii() and p.isdigit():
                    pn = int(p, 10)
                    if pn > 65535:
                        return canon  # urlsplit raises on range → canon
                    if pn not in (80, 0):  # 0 is falsy in the slow branch
                        port = f":{pn}"
                else:
                    ok = False
            if ok and host:
                tail = rest[end:]
                h = tail.find("#")
                if h != -1:
                    tail = tail[:h]
                qpos = tail.find("?")
                if qpos == -1 or qpos == len(tail) - 1:
                    # a bare trailing "?" yields an empty query — elided,
                    # matching the urlsplit branch below
                    path, query = (tail[:qpos] if qpos != -1 else tail) or "/", ""
                else:
                    path, query = (tail[:qpos] or "/"), "?" + tail[qpos + 1:]
                return ("(" + ",".join(reversed(host.lower().split(".")))
                        + "," + ")" + port + path + query)
    try:
        parts = urlsplit(canon)
        # .hostname/.port parse lazily and can raise on malformed
        # authorities (e.g. "http://::"); a key must still come out
        host = parts.hostname or ""
        port_no = parts.port
    except Exception:
        return canon
    port = f":{port_no}" if port_no and port_no != 80 else ""
    path = parts.path or "/"
    query = f"?{parts.query}" if parts.query else ""
    return "(" + ",".join(reversed(host.split("."))) + "," + ")" + port + path + query
