"""IRI utilities: RFC 3986 reference resolution and shape checks.

Reference parity:
  - resolve_iri: crates/context-processing/src/algorithm/mod.rs:54-66
    (strict RFC 3986 resolution, delegated there to the `iref` crate).
  - blank-node / absolute-IRI shape tests: crates/core/src/id.rs:37-43.

Implemented from the public RFC 3986 text (sections 5.2-5.3); we do NOT use
urllib.parse.urljoin because it special-cases a scheme allowlist and mangles
unknown schemes (tag:, urn:, ...) that appear in JSON-LD test data.
"""

from __future__ import annotations

import re

# scheme = ALPHA *( ALPHA / DIGIT / "+" / "-" / "." )
_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*$")
# A string "looks like" an absolute IRI if it has a valid scheme and no
# spaces / control characters.
_ABSOLUTE_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:[^\s]*$")
_BAD_CHARS_RE = re.compile(r"[\x00-\x20<>\"{}|\\^`]")

_KEYWORD_SHAPE_RE = re.compile(r"^@[A-Za-z]+$")


def is_absolute_iri(value: str) -> bool:
    """True if value parses as an absolute IRI (scheme ':' hier-part)."""
    if not isinstance(value, str):
        return False
    m = _ABSOLUTE_RE.match(value)
    if not m:
        return False
    if _BAD_CHARS_RE.search(value):
        return False
    # a lone "prefix:" with empty suffix is still absolute per RFC 3986
    return True


def is_blank_node_id(value: str) -> bool:
    return isinstance(value, str) and value.startswith("_:")


def looks_like_keyword(value: str) -> bool:
    """'@'-prefixed alpha token (treated as unknown keyword → dropped)."""
    return bool(_KEYWORD_SHAPE_RE.match(value))


# --------------------------------------------------------------------------
# RFC 3986 parsing / resolution
# --------------------------------------------------------------------------

_IRI_PARTS_RE = re.compile(
    r"^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?"  # scheme
    r"(?://([^/?#]*))?"                    # authority
    r"([^?#]*)"                            # path
    r"(?:\?([^#]*))?"                      # query
    r"(?:#(.*))?$",                        # fragment
    re.S,
)


def split_iri(ref: str) -> tuple[str | None, str | None, str, str | None, str | None]:
    m = _IRI_PARTS_RE.match(ref)
    assert m is not None  # regex matches any string
    return m.group(1), m.group(2), m.group(3) or "", m.group(4), m.group(5)


def _merge_paths(base_authority: str | None, base_path: str, ref_path: str) -> str:
    # RFC 3986 §5.3 "merge"
    if base_authority is not None and base_path == "":
        return "/" + ref_path
    i = base_path.rfind("/")
    if i == -1:
        return ref_path
    return base_path[: i + 1] + ref_path


def remove_dot_segments(path: str) -> str:
    # RFC 3986 §5.2.4
    output: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./"):
            path = "/" + path[3:]
        elif path == "/.":
            path = "/"
        elif path.startswith("/../"):
            path = "/" + path[4:]
            if output:
                output.pop()
        elif path == "/..":
            path = "/"
            if output:
                output.pop()
        elif path in (".", ".."):
            path = ""
        else:
            if path.startswith("/"):
                i = path.find("/", 1)
            else:
                i = path.find("/")
            if i == -1:
                output.append(path)
                path = ""
            else:
                output.append(path[:i])
                path = path[i:]
    return "".join(output)


def resolve_iri(base: str | None, ref: str) -> str:
    """Strict RFC 3986 §5.2 reference resolution of `ref` against `base`.

    If base is None or not absolute, returns `ref` unchanged.
    """
    if base is None or not is_absolute_iri(base):
        return ref
    r_scheme, r_auth, r_path, r_query, r_frag = split_iri(ref)
    b_scheme, b_auth, b_path, b_query, _ = split_iri(base)

    if r_scheme is not None:
        scheme, auth, path, query = r_scheme, r_auth, remove_dot_segments(r_path), r_query
    else:
        if r_auth is not None:
            auth, path, query = r_auth, remove_dot_segments(r_path), r_query
        else:
            if r_path == "":
                path = b_path
                query = r_query if r_query is not None else b_query
            else:
                if r_path.startswith("/"):
                    path = remove_dot_segments(r_path)
                else:
                    path = remove_dot_segments(_merge_paths(b_auth, b_path, r_path))
                query = r_query
            auth = b_auth
        scheme = b_scheme

    out = []
    if scheme is not None:
        out.append(scheme + ":")
    if auth is not None:
        out.append("//" + auth)
    out.append(path)
    if query is not None:
        out.append("?" + query)
    if r_frag is not None:
        out.append("#" + r_frag)
    return "".join(out)
