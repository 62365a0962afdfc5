"""HOCON-subset parser, config-from-URI loading, and ipynb→config
conversion — the reference's job-file surface.

Reference parity: the reference parses job configs with Typesafe Config in
``ConfigSyntax.CONF`` mode (``config/ArcPipeline.scala:67``), loads them
from file/http/classpath URIs (``config/ConfigUtils.scala:34-70``), and
converts Arc Jupyter notebooks to configs (``ConfigUtils.scala:187-330``).
This module implements the HOCON subset those job files and the
reference's own test fixtures (``src/test/resources/conf/*.conf``) use:

- ``//`` and ``#`` comments
- optional root braces; ``=`` or ``:`` separators (or none before ``{``)
- unquoted keys and dotted paths (``a.b.c = 1`` → nested objects)
- newline-separated (comma-optional) object members and array elements
- triple-quoted multiline strings, quoted strings with escapes,
  unquoted value strings
- value concatenation on one line (``${BASE}"/path/file.csv"``)
- ``${path}`` substitutions resolved from the document itself, falling
  back to environment variables; unresolved ones are left intact for the
  pipeline's own ``${param}`` resolution pass. An optional ``${?path}``
  takes a job parameter (``--path=value``) first, since the pipeline's
  ``${param}`` pass fills only ``${key}``/``${key=default}``
- duplicate keys: objects deep-merge, scalars override (HOCON semantics)
- ``include "uri"`` (also ``include file(...)/url(...)/required(...)``)
  splicing, resolved relative to the including file

Not implemented (unused by Arc job files): ``+=`` appends, multi-line
unquoted strings, key concatenation.
"""

from __future__ import annotations

import json
import os
import re
from typing import Any
from urllib.parse import urlparse


class HoconError(Exception):
    pass


_UNQUOTED_END = set('$"{}[]:=,+#`^?!@*&\\')


class _Parser:
    def __init__(self, text: str, *, base_dir: str | None = None):
        self.s = text
        self.i = 0
        self.n = len(text)
        self.base_dir = base_dir

    # -- low level ----------------------------------------------------------

    def _err(self, msg: str) -> HoconError:
        line = self.s.count("\n", 0, self.i) + 1
        return HoconError(f"line {line}: {msg}")

    def _skip_ws(self, *, newlines: bool = True) -> None:
        while self.i < self.n:
            c = self.s[self.i]
            if c == "\n" and not newlines:
                return
            if c in " \t\r\n":
                self.i += 1
            elif c == "#" or self.s.startswith("//", self.i):
                while self.i < self.n and self.s[self.i] != "\n":
                    self.i += 1
            else:
                return

    def _peek(self) -> str:
        return self.s[self.i] if self.i < self.n else ""

    # -- strings ------------------------------------------------------------

    def _parse_quoted(self) -> str:
        if self.s.startswith('"""', self.i):
            end = self.s.find('"""', self.i + 3)
            if end < 0:
                raise self._err("unterminated triple-quoted string")
            out = self.s[self.i + 3 : end]
            self.i = end + 3
            return out
        assert self._peek() == '"'
        self.i += 1
        out = []
        while self.i < self.n:
            c = self.s[self.i]
            if c == '"':
                self.i += 1
                return "".join(out)
            if c == "\\":
                self.i += 1
                e = self.s[self.i]
                mapping = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "\\": "\\", "/": "/", "b": "\b", "f": "\f"}
                if e == "u":
                    out.append(chr(int(self.s[self.i + 1 : self.i + 5], 16)))
                    self.i += 5
                    continue
                out.append(mapping.get(e, e))
                self.i += 1
            else:
                out.append(c)
                self.i += 1
        raise self._err("unterminated string")

    def _parse_unquoted(self) -> str:
        start = self.i
        while self.i < self.n:
            c = self.s[self.i]
            if c in _UNQUOTED_END or c in " \t\r\n" or self.s.startswith("//", self.i):
                break
            self.i += 1
        if self.i == start:
            raise self._err(f"unexpected character {self._peek()!r}")
        return self.s[start : self.i]

    # -- values -------------------------------------------------------------

    def _parse_substitution(self) -> str:
        # returns the raw "${...}" text; resolution happens after parsing
        assert self.s.startswith("${", self.i)
        end = self.s.find("}", self.i)
        if end < 0:
            raise self._err("unterminated ${ substitution")
        out = self.s[self.i : end + 1]
        self.i = end + 1
        return out

    def _parse_value(self) -> Any:
        self._skip_ws(newlines=False)
        pieces: list[Any] = []
        while self.i < self.n:
            c = self._peek()
            if c == "{":
                pieces.append(self._parse_object())
            elif c == "[":
                pieces.append(self._parse_array())
            elif c == '"':
                pieces.append(self._parse_quoted())
            elif self.s.startswith("${", self.i):
                pieces.append(_Subst(self._parse_substitution()))
            elif c in "\n,}]" or c == "" or c == "#" or self.s.startswith("//", self.i):
                break
            elif c in " \t\r":
                # whitespace between pieces is kept only if another piece
                # follows on the same line (HOCON string concatenation)
                j = self.i
                while j < self.n and self.s[j] in " \t\r":
                    j += 1
                if j < self.n and self.s[j] not in "\n,}]#" and not self.s.startswith("//", j):
                    pieces.append(self.s[self.i : j])
                    self.i = j
                else:
                    self.i = j
                    break
            else:
                pieces.append(self._parse_unquoted())
        if not pieces:
            raise self._err("expected a value")
        if len(pieces) == 1 and not isinstance(pieces[0], str):
            return pieces[0]
        if len(pieces) == 1:
            return _coerce_scalar(pieces[0])
        # concatenation: all pieces stringified and joined
        return "".join(
            p.raw if isinstance(p, _Subst) else (json.dumps(p) if isinstance(p, (dict, list)) else str(p))
            for p in pieces
        )

    def _parse_array(self) -> list:
        assert self._peek() == "["
        self.i += 1
        out: list[Any] = []
        while True:
            self._skip_ws()
            if self._peek() == "]":
                self.i += 1
                return out
            if self._peek() == ",":
                self.i += 1
                continue
            if self.i >= self.n:
                raise self._err("unterminated array")
            out.append(self._parse_value())

    def _parse_key(self) -> list[str]:
        self._skip_ws()
        if self._peek() == '"':
            return [self._parse_quoted()]
        raw = self._parse_unquoted()
        return raw.split(".")

    def _parse_object(self, *, root: bool = False) -> dict:
        if not root:
            assert self._peek() == "{"
            self.i += 1
        out: dict[str, Any] = {}
        while True:
            self._skip_ws()
            if self.i >= self.n:
                if root:
                    return out
                raise self._err("unterminated object")
            c = self._peek()
            if c == "}":
                if root:
                    raise self._err("unexpected '}'")
                self.i += 1
                return out
            if c == ",":
                self.i += 1
                continue
            # include directive
            if self.s.startswith("include", self.i) and (
                self.i + 7 < self.n and self.s[self.i + 7] in ' \t"'
            ):
                self.i += 7
                self._skip_ws(newlines=False)
                m = re.match(r"(required\()?\s*(file\(|url\(|classpath\()?", self.s[self.i :])
                self.i += m.end()
                self._skip_ws(newlines=False)
                target = self._parse_quoted()
                while self._peek() == ")":
                    self.i += 1
                included = _load_include(target, self.base_dir)
                _deep_merge(out, included)
                continue
            path = self._parse_key()
            self._skip_ws(newlines=False)
            sep = self._peek()
            if sep in ":=":
                self.i += 1
                val = self._parse_value()
            elif sep == "{":
                val = self._parse_object()
            else:
                raise self._err(f"expected ':', '=' or '{{' after key {'.'.join(path)!r}")
            _set_path(out, path, val)


class _Subst:
    """A ``${path}`` placeholder captured during parsing."""

    def __init__(self, raw: str):
        self.raw = raw
        inner = raw[2:-1]
        self.optional = inner.startswith("?")
        self.path = inner[1:] if self.optional else inner
        # the value this field held before an optional substitution
        # overrode it: an undefined ``${?x}`` leaves that value standing
        self.fallback = None

    def __repr__(self) -> str:  # pragma: no cover
        return f"_Subst({self.raw})"


def _coerce_scalar(s: str) -> Any:
    t = s.strip()
    if t == "true":
        return True
    if t == "false":
        return False
    if t == "null":
        return None
    try:
        return int(t)
    except ValueError:
        pass
    try:
        return float(t)
    except ValueError:
        pass
    return s


def _set_path(obj: dict, path: list[str], val: Any) -> None:
    cur = obj
    for p in path[:-1]:
        nxt = cur.get(p)
        if not isinstance(nxt, dict):
            nxt = {}
            cur[p] = nxt
        cur = nxt
    _assign(cur, path[-1], val)


def _assign(obj: dict, key: str, val: Any) -> None:
    """One HOCON field assignment: objects deep-merge, anything else
    overrides. An optional substitution keeps what it overrides as its
    fallback (``a = 1024`` then ``a = ${?UNSET}`` leaves ``a = 1024``)."""
    if isinstance(val, dict) and isinstance(obj.get(key), dict):
        _deep_merge(obj[key], val)
        return
    if isinstance(val, _Subst) and val.optional:
        val.fallback = obj.get(key)
    obj[key] = val


def _deep_merge(dst: dict, src: dict) -> None:
    for k, v in src.items():
        _assign(dst, k, v)


def _get_path(obj: Any, path: str) -> Any:
    cur = obj
    for p in path.split("."):
        if not isinstance(cur, dict) or p not in cur:
            raise KeyError(path)
        cur = cur[p]
    return cur


def _resolve_substitutions(node: Any, root: dict, params: dict) -> Any:
    if isinstance(node, _Subst):
        if node.optional and node.path in params:
            return params[node.path]
        try:
            target = _get_path(root, node.path)
            if target is node:  # ``a = ${?a}``: the earlier value of a
                raise KeyError(node.path)
            return _resolve_substitutions(target, root, params)
        except KeyError:
            if node.path in os.environ:
                return os.environ[node.path]
            if node.optional:
                return _resolve_substitutions(node.fallback, root, params)
            return node.raw  # leave for the pipeline's ${param} pass
    if isinstance(node, dict):
        return {k: _resolve_substitutions(v, root, params) for k, v in node.items()}
    if isinstance(node, list):
        return [_resolve_substitutions(v, root, params) for v in node]
    if isinstance(node, str) and "${" in node:
        # substitutions embedded in concatenated strings
        def repl(m: re.Match) -> str:
            sub = _Subst(m.group(0))
            if sub.optional and sub.path in params:
                return str(params[sub.path])
            try:
                return str(_get_path(root, sub.path))
            except KeyError:
                if sub.path in os.environ:
                    return os.environ[sub.path]
                return "" if sub.optional else m.group(0)

        return re.sub(r"\$\{[^}]*\}", repl, node)
    return node


def _load_include(target: str, base_dir: str | None) -> dict:
    text = read_uri(target, base_dir=base_dir)
    sub = _Parser(text, base_dir=_dir_of(target, base_dir))
    sub._skip_ws()
    if sub._peek() == "{":
        return sub._parse_object()
    return sub._parse_object(root=True)


def parse_hocon(
    text: str, *, base_dir: str | None = None, params: dict | None = None
) -> dict:
    """Parse HOCON text (a JSON superset) into a plain dict. ``params``
    (the job's ``--key=value`` arguments) resolve an optional ``${?key}``
    before the document and the environment do."""
    p = _Parser(text, base_dir=base_dir)
    p._skip_ws()
    doc = p._parse_object() if p._peek() == "{" else p._parse_object(root=True)
    p._skip_ws()
    if p.i < p.n:
        raise p._err(f"trailing content: {p.s[p.i:p.i+20]!r}")
    return _resolve_substitutions(doc, doc, params or {})


# ---------------------------------------------------------------------------
# config-from-URI
# ---------------------------------------------------------------------------


def _dir_of(uri: str, base_dir: str | None) -> str | None:
    scheme = urlparse(uri).scheme
    if scheme in ("", "file"):
        path = urlparse(uri).path if scheme == "file" else uri
        if not os.path.isabs(path) and base_dir:
            path = os.path.join(base_dir, path)
        return os.path.dirname(os.path.abspath(path))
    return base_dir


def read_uri(uri: str, *, base_dir: str | None = None) -> str:
    """Fetch config text from file / file:// / http(s):// / classpath://
    URIs (``config/ConfigUtils.scala:34-70``). ``classpath://`` resolves
    under $ARC_CLASSPATH_DIR (the jar-resources analogue)."""
    parsed = urlparse(uri)
    if parsed.scheme in ("http", "https"):
        import urllib.request

        with urllib.request.urlopen(uri, timeout=30) as r:  # noqa: S310
            return r.read().decode("utf-8")
    if parsed.scheme == "classpath":
        root = os.environ.get("ARC_CLASSPATH_DIR", ".")
        path = os.path.join(root, parsed.netloc + parsed.path if parsed.netloc else parsed.path.lstrip("/"))
        with open(path) as f:
            return f.read()
    path = parsed.path if parsed.scheme == "file" else uri
    if not os.path.isabs(path) and base_dir:
        path = os.path.join(base_dir, path)
    with open(path) as f:
        return f.read()


def load_config_uri(uri: str) -> dict:
    """Load + parse a job config from a URI: .json/.conf/HOCON text, or an
    Arc .ipynb notebook (converted first)."""
    text = read_uri(uri)
    if uri.endswith(".ipynb"):
        text = ipynb_to_config(text)
    return parse_hocon(text, base_dir=_dir_of(uri, None))


# ---------------------------------------------------------------------------
# ipynb → config (ConfigUtils.scala:187-330)
# ---------------------------------------------------------------------------

_MAGIC_STAGE_TYPES = {
    "%log": "LogExecute",
    "%configexecute": "ConfigExecute",
    "%metadatafilter": "MetadataFilterTransform",
    "%metadatavalidate": "MetadataValidate",
    "%sqlvalidate": "SQLValidate",
    "%sql": "SQLTransform",
}

_JUPYTER_ONLY_ARGS = {
    "name", "description", "sqlParams", "outputView", "environments",
    "numRows", "truncate", "persist", "monospace", "leftAlign",
    "datasetLabels", "streamingDuration", "showLog",
}


def _parse_magic_args(line: str) -> dict[str, str]:
    out = {}
    for m in re.finditer(r'(\w+)=("[^"]*"|\S+)', line):
        out[m.group(1)] = m.group(2).strip('"').strip()
    return out


def ipynb_to_config(notebook_text: str) -> str:
    """Convert an Arc Jupyter notebook to a HOCON job config string: code
    cells become stages — raw Arc config cells pass through, ``%sql``-style
    magic cells synthesize the corresponding stage object."""
    nb = json.loads(notebook_text)
    kernel = nb.get("metadata", {}).get("kernelspec", {}).get("name")
    if kernel != "arc":
        raise HoconError(f"not an arc notebook (kernelspec {kernel!r})")
    cells = [
        "".join(c.get("source", [])).strip().rstrip(",")
        for c in nb.get("cells", [])
        if c.get("cell_type") == "code"
    ]
    stages: list[str] = []
    for index, cell in enumerate(cells):
        if not cell:
            continue
        lines = cell.split("\n")
        behavior = lines[0].strip()
        command = "\n".join(lines[1:])
        low = behavior.lower()
        if not low.startswith("%"):
            stages.append(cell)
            continue
        if low.startswith("%arc"):
            stages.append(command)
            continue
        stage_type = next(
            (t for magic, t in _MAGIC_STAGE_TYPES.items() if low.startswith(magic)), None
        )
        if stage_type is None:
            continue  # non-arc magic (e.g. %version, %help)
        args = _parse_magic_args(behavior)
        envs = [e for e in args.get("environments", "").split(",") if e]
        sql_params = {}
        if "sqlParams" in args:
            sql_params = _parse_magic_args(args["sqlParams"].replace(",", " "))
        dynamic = {k: v for k, v in args.items() if k not in _JUPYTER_ONLY_ARGS}
        stage: dict[str, Any] = {
            "type": stage_type,
            "name": args.get("name", f"notebook cell {index}"),
            "description": args.get("description", ""),
            "environments": envs or ["production", "test"],
            "sql": command,
            "sqlParams": sql_params,
            **dynamic,
        }
        if "outputView" in args:
            stage["outputView"] = args["outputView"]
        if stage_type in ("SQLTransform", "MetadataFilterTransform", "ConfigExecute"):
            stage["persist"] = args.get("persist", "false") in ("true", "True")
        if stage_type == "SQLTransform" and "outputView" not in stage:
            stage["outputView"] = f"cell_{index}"
        stages.append(json.dumps(stage))
    return '{"stages": [' + ",".join(stages) + "]}"
