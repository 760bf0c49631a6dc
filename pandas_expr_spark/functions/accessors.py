"""Series accessors: ``.str``, ``.dt``, ``.cat`` (SURVEY §2.8).

The reference designed the accessor framework for all three namespaces
(``_accessor.py:6-61``, docstring at ``_accessor.py:8``) but only wired
``cat`` (``_collection.py:557-558``).  We wire all three, each method mapping
to a JVM-side ``pyspark.sql.functions`` call — no Python roundtrip
(``PropertyMap``/``FunctionMap`` pattern, ``_accessor.py:63-81``).

Categorical (reference ``_categorical.py:14-129``): Spark has no categorical
dtype; we model it as engine metadata — *known* categories are a driver-held
list; *unknown* means "not yet computed", resolved by a lazy ``distinct()``
exactly like the reference's ``as_known`` which computes ``.unique()``
(``_categorical.py:55-76``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, Window, functions as F
from pyspark.sql import types as T

from .. import _dtypes

# str.partition/rpartition(expand) columns: Spark "0".."2", pandas 0..2
_PARTS_AXIS = _dtypes.axis_record({str(i): i for i in range(3)})


class _Accessor:
    def __init__(self, series):
        self._s = series

    def _wrap(self, scol: Column, op: str, entry=None):
        return self._s._with_scol(scol, op, entry=entry)


class StringAccessor(_Accessor):
    """``ser.str.*`` → ``F.*`` string functions."""

    def upper(self): return self._wrap(F.upper(self._s._scol), "str.upper")
    def lower(self): return self._wrap(F.lower(self._s._scol), "str.lower")
    def casefold(self):
        """Python FULL Unicode case folding ('ß' → 'ss', 'ﬁ' → 'fi') —
        not lowercasing; exact parity needs str.casefold, so this is an
        Arrow-batched pandas_udf (same precedent as str.title)."""
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql import types as T

        @pandas_udf(T.StringType())
        def _cf(s: pd.Series) -> pd.Series:
            return s.str.casefold()
        return self._wrap(_cf(self._s._scol), "str.casefold")
    def strip(self): return self._wrap(F.trim(self._s._scol), "str.strip")
    def lstrip(self): return self._wrap(F.ltrim(self._s._scol), "str.lstrip")
    def rstrip(self): return self._wrap(F.rtrim(self._s._scol), "str.rstrip")
    def len(self):
        # pandas str.len also measures list/dict cells (e.g. after
        # str.findall) — array/map columns need size(), not length()
        from pyspark.sql import types as T
        st = self._s.spark_type
        if isinstance(st, (T.ArrayType, T.MapType)):
            c = self._s._scol
            # size(NULL) is -1 under the legacy conf — keep null as null
            return self._wrap(F.when(c.isNotNull(), F.size(c)), "str.len")
        return self._wrap(F.length(self._s._scol), "str.len")
    def title(self):
        """pandas ``str.title`` capitalizes the start of every ALPHA run
        (``"a,b"`` → ``"A,B"``); Spark's ``initcap`` only after whitespace
        — exact parity needs Python's titlecasing, so this is an
        Arrow-batched pandas_udf (cheap per-row string op)."""
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql import types as T

        @pandas_udf(T.StringType())
        def _title(s: pd.Series) -> pd.Series:
            return s.str.title()
        return self._wrap(_title(self._s._scol), "str.title")

    def swapcase(self):
        """Per-character case swap, JVM-side: split to chars →
        ``transform`` (lower if it equals its upper-candidate, else upper)
        → concat.  Caseless chars are fixed points of both mappings, so
        the single equality test suffices."""
        c = self._s._scol
        swapped = F.transform(
            F.split(c, ""),
            lambda ch: F.when(ch == F.lower(ch), F.upper(ch))
                        .otherwise(F.lower(ch)))
        # concat_ws maps NULL input to '' — keep pandas' null propagation
        return self._wrap(F.when(c.isNotNull(), F.concat_ws("", swapped)),
                          "str.swapcase")

    def capitalize(self):
        """pandas ``str.capitalize``: first char upper, rest lower — pure
        JVM expression."""
        c = self._s._scol
        out = F.concat(F.upper(F.substring(c, 1, 1)),
                       F.lower(c.substr(F.lit(2), F.length(c))))
        return self._wrap(F.when(c.isNull(), F.lit(None)).otherwise(out),
                          "str.capitalize")

    def contains(self, pat: str, case: bool = True, na=None,
                 regex: bool = True):
        """pandas ``str.contains``: ``case=False`` folds both sides (or
        prefixes ``(?i)`` for regex); ``na=`` fills null-input results."""
        c = self._s._scol
        if regex:
            out = c.rlike(pat if case else f"(?i){pat}")
        else:
            out = (c.contains(pat) if case
                   else F.lower(c).contains(pat.lower()))
        if na is not None:
            out = F.when(c.isNull(), F.lit(bool(na))).otherwise(out)
        return self._wrap(out, "str.contains")

    def _na_fill(self, out, na):
        """pandas ``na=`` on boolean str tests: fill null-input results."""
        if na is not None:
            out = F.when(self._s._scol.isNull(),
                         F.lit(bool(na))).otherwise(out)
        return out

    def startswith(self, pat, na=None):
        """pandas accepts a str or a TUPLE of prefixes (any-match)."""
        c = self._s._scol
        if isinstance(pat, tuple):
            pred = None
            for p in pat:
                e = c.startswith(p)
                pred = e if pred is None else (pred | e)
            return self._wrap(
                self._na_fill(pred if pred is not None else F.lit(False),
                              na), "str.startswith")
        return self._wrap(self._na_fill(c.startswith(pat), na),
                          "str.startswith")

    def endswith(self, pat, na=None):
        c = self._s._scol
        if isinstance(pat, tuple):
            pred = None
            for p in pat:
                e = c.endswith(p)
                pred = e if pred is None else (pred | e)
            return self._wrap(
                self._na_fill(pred if pred is not None else F.lit(False),
                              na), "str.endswith")
        return self._wrap(self._na_fill(c.endswith(pat), na),
                          "str.endswith")

    def match(self, pat: str, case: bool = True, na=None):
        p = pat if case else f"(?i){pat}"
        return self._wrap(
            self._na_fill(self._s._scol.rlike(f"^(?:{p})"), na),
            "str.match")

    def slice(self, start: int = 0, stop: int | None = None,
              step: int | None = None):
        """pandas ``str.slice`` with full Python slice semantics for
        negative ``start``/``stop`` (resolved against the string length,
        clamped to [0, len]); the non-negative fast path stays a static
        ``substring`` (constant-foldable)."""
        if step not in (None, 1):
            # stepped slice has no JVM builtin — honest Arrow fallback
            @F.pandas_udf(T.StringType())
            def _step_slice(s: pd.Series) -> pd.Series:
                return s.str.slice(start, stop, step)
            return self._wrap(_step_slice(self._s._scol), "str.slice")
        c = self._s._scol
        if start >= 0 and (stop is None or stop >= 0):
            length = (stop - start) if stop is not None else 2 ** 31 - 1
            return self._wrap(F.substring(c, start + 1, max(length, 0)),
                              "str.slice")
        ln = F.length(c)
        a = (F.least(F.lit(start), ln) if start >= 0
             else F.greatest(ln + start, F.lit(0)))
        if stop is None:
            b = ln
        elif stop >= 0:
            b = F.least(F.lit(stop), ln)
        else:
            b = F.greatest(ln + stop, F.lit(0))
        return self._wrap(c.substr(a + 1, F.greatest(b - a, F.lit(0))),
                          "str.slice")

    def rsplit(self, pat: str | None = None, n: int = -1,
               expand: bool = False):
        """pandas ``str.rsplit``: split from the RIGHT, at most ``n``
        splits.  One full JVM split, then the leading parts re-joined —
        ``array_join`` + two ``slice``s, no Python."""
        import re
        if expand:
            raise NotImplementedError("str.rsplit(expand=True)")
        if pat is None:
            # pandas whitespace mode: runs of whitespace, leading/trailing
            # dropped, '' -> []
            joiner = " "
            parts = F.filter(F.split(F.trim(self._s._scol), r"\s+", -1),
                             lambda x: x != "")
        else:
            joiner = pat
            parts = F.split(self._s._scol, re.escape(pat), -1)
        if n is None or n < 0:
            return self._wrap(parts, "str.rsplit")
        sz = F.size(parts)
        k = F.greatest(sz - F.lit(n), F.lit(1))
        merged = F.array_join(F.slice(parts, F.lit(1), k), joiner)
        tail = F.when(sz > k, F.slice(parts, k + 1, F.lit(n))) \
                .otherwise(F.array().cast("array<string>"))
        out = F.when(self._s._scol.isNull(), F.lit(None)) \
               .when(sz == 0, F.array().cast("array<string>")) \
               .otherwise(F.concat(F.array(merged), tail))
        return self._wrap(out, "str.rsplit")

    def get(self, i: int):
        # pandas: out-of-range position → NaN (Spark substring gives '');
        # negative positions count from the end like Python.  On an ARRAY
        # column (s.str.split().str.get(1) / .str[1]) this is the list
        # element instead — pandas .str dispatches per element type.
        c = self._s._scol
        st = self._s.spark_type
        if isinstance(st, T.ArrayType):
            if i >= 0:
                # F.get is 0-based and null (not ANSI error) out of range
                return self._wrap(F.get(c, F.lit(i)), "str.get")
            # negative: element_at counts from the end; guard the ANSI
            # out-of-range error (CASE branches evaluate lazily)
            out = F.when(F.size(c) >= -i, F.element_at(c, F.lit(i)))
            return self._wrap(out, "str.get")
        if i < 0:
            ch = F.substring(c, F.length(c) + F.lit(i + 1), F.lit(1))
            return self._wrap(F.when(F.length(c) >= -i, ch), "str.get")
        ch = F.substring(c, i + 1, 1)
        return self._wrap(F.when(F.length(c) > i, ch), "str.get")

    def __getitem__(self, key):
        """pandas ``s.str[key]``: positional getitem per element —
        ``s.str[1]`` ≡ ``str.get(1)`` (strings AND split() arrays),
        ``s.str[a:b:c]`` ≡ ``str.slice(a, b, c)``."""
        if isinstance(key, slice):
            return self.slice(key.start or 0, key.stop, key.step)
        return self.get(key)

    def replace(self, pat: str, repl: str, n: int = -1,
                case: bool = True, regex: bool = False):
        """pandas ``str.replace`` — literal by default (the pandas ≥2.0
        contract); ``regex=True`` opts into pattern replacement;
        ``case=False`` matches case-insensitively (literal patterns
        escape into a ``(?i)`` regex)."""
        if n != -1:
            raise NotImplementedError("str.replace(n=) limited replace")
        import re as _re
        c = self._s._scol
        if regex:
            out = F.regexp_replace(c, pat if case else f"(?i){pat}", repl)
        elif not case:
            out = F.regexp_replace(c, f"(?i){_re.escape(pat)}",
                                   _re.sub(r"[\\$]", r"\\\g<0>", repl))
        else:
            out = F.replace(c, F.lit(pat), F.lit(repl))
        return self._wrap(out, "str.replace")

    def extract(self, pat: str, group: int | None = None,
                expand: bool = True):
        """pandas ``str.extract``: one column per capture group — a
        DataFrame by default (pandas ``expand=True``, even for a single
        group); ``expand=False`` with one group gives a Series, and an
        explicit ``group=`` index always gives a Series.  Non-matching
        rows are null (Spark's ``regexp_extract`` alone returns ``''`` —
        guarded with an ``rlike`` test, all JVM-side).  ``(?P<name>...)``
        group names become column names; unnamed groups get ``"0"``,
        ``"1"``, … (string labels — Spark columns are strings)."""
        import re
        cpat = re.compile(pat)
        # Python spells named groups (?P<name>...); Java wants (?<name>...)
        jpat = pat.replace("(?P<", "(?<").replace("(?P=", r"\k<")
        c = self._s._scol
        hit = c.rlike(jpat)

        def one(i: int):
            return F.when(hit, F.regexp_extract(c, jpat, i))

        if group is not None:
            return self._wrap(one(group), "str.extract")
        names = {v: k for k, v in cpat.groupindex.items()}
        if cpat.groups <= 1 and not expand:
            return self._wrap(one(1), "str.extract")
        from .._collection import DataFrame as _PDF, _order_cols
        from .._expr import Node
        s = self._s
        sdf = s._sdf.select(
            *[F.col(ic) for ic in s._index_cols], *_order_cols(s._sdf),
            *[one(i).alias(names.get(i, str(i - 1)))
              for i in range(1, cpat.groups + 1)])
        node = Node("str.extract", {"pat": pat}, s._expr)
        return _PDF(sdf, node, s._index_cols, s._index_names,
                    s._entries(s._index_cols), _dtypes.axis_record(
                        {str(i - 1): i - 1 for i in range(1, cpat.groups + 1)
                         if i not in names}))

    def split(self, pat: str | None = None, regex: bool | None = None,
              n: int = -1, expand: bool = False):
        """pandas ``str.split``.  ``expand=True`` widens to one column per
        token position — the width is the corpus max token count, which is
        data-dependent, so it is discovered with one tiny ``max(size)``
        aggregate first (an eager scan, same documented contract as
        ``get_dummies``); rows with fewer tokens pad with null
        (``try_element_at``)."""
        import re
        limit = n + 1 if n and n > 0 else -1
        if pat is None:
            # pandas whitespace mode: split on whitespace RUNS with
            # leading/trailing whitespace ignored; '' -> []
            arr = F.filter(F.split(F.trim(self._s._scol), r"\s+", limit),
                           lambda x: x != "")
        elif pat == "":
            # pandas uses re.split('', s): every char separated WITH
            # leading/trailing empty strings ('xx' → ['', 'x', 'x', ''];
            # '' → ['', ''])
            c = self._s._scol
            arr = F.when(F.length(c) == 0,
                         F.array(F.lit(""), F.lit(""))) \
                .otherwise(F.concat(F.array(F.lit("")), F.split(c, ""),
                                    F.array(F.lit(""))))
        else:
            if regex is None:
                # pandas rule: 1-char pat is literal; longer pats are regex
                regex = len(pat) != 1
            p = pat if regex else re.escape(pat)
            arr = F.split(self._s._scol, p, limit)
        if not expand:
            return self._wrap(arr, "str.split")
        from .._collection import DataFrame as _PDF, _order_cols
        from .._expr import Node
        s = self._s
        keep = [F.col(ic) for ic in s._index_cols] + _order_cols(s._sdf)
        base = s._sdf.select(*keep, arr.alias("__toks__"))
        width = base.agg(F.max(F.size("__toks__"))).collect()[0][0] or 0
        sdf = base.select(
            *keep,
            *[F.try_element_at("__toks__", F.lit(i + 1)).alias(str(i))
              for i in range(width)])
        node = Node("str.split", {"pat": pat, "expand": True}, s._expr)
        return _PDF(sdf, node, s._index_cols, s._index_names,
                    s._entries(s._index_cols),
                    _dtypes.axis_record({str(i): i for i in range(width)}))

    def partition(self, sep: str = " "):
        """pandas ``str.partition``: (before, sep, after) — three pure
        JVM substring expressions, no shuffle.  Missing separator →
        (whole, '', '') like pandas."""
        s = self._s
        c = s._scol
        pos = F.instr(c, sep)
        before = F.when(pos > 0, F.substring(c, F.lit(1), pos - 1)) \
            .otherwise(c)
        null = F.lit(None).cast("string")
        mid = F.when(c.isNull(), null) \
            .when(pos > 0, F.lit(sep)).otherwise(F.lit(""))
        after = F.when(c.isNull(), null) \
            .when(pos > 0, F.substring(c, pos + F.lit(len(sep)),
                                       F.length(c))).otherwise(F.lit(""))
        from .._collection import DataFrame as _PDF, _order_cols
        from .._expr import Node
        sdf = s._sdf.select(*[F.col(ic) for ic in s._index_cols],
                            *_order_cols(s._sdf), before.alias("0"),
                            mid.alias("1"), after.alias("2"))
        node = Node("str.partition", {"sep": sep}, s._expr)
        return _PDF(sdf, node, s._index_cols, s._index_names,
                    s._entries(s._index_cols), _PARTS_AXIS)

    def rpartition(self, sep: str = " "):
        """pandas ``str.rpartition``: split at the LAST occurrence of
        ``sep`` — (before, sep, after), pure JVM (last position found via
        the reverse trick).  Missing separator → ('', '', whole)."""
        s = self._s
        c = s._scol
        rpos = F.locate(sep[::-1], F.reverse(c))  # 1-based in reversed str
        # start of the last occurrence in the original string (1-based)
        pos = F.length(c) - rpos - F.lit(len(sep)) + F.lit(2)
        found = rpos > 0
        null = F.lit(None).cast("string")
        before = F.when(c.isNull(), null) \
            .when(found, F.substring(c, F.lit(1), pos - 1)).otherwise(F.lit(""))
        mid = F.when(c.isNull(), null) \
            .when(found, F.lit(sep)).otherwise(F.lit(""))
        after = F.when(c.isNull(), null) \
            .when(found, F.substring(c, pos + F.lit(len(sep)),
                                     F.length(c))).otherwise(c)
        from .._collection import DataFrame as _PDF, _order_cols
        from .._expr import Node
        sdf = s._sdf.select(*[F.col(ic) for ic in s._index_cols],
                            *_order_cols(s._sdf), before.alias("0"),
                            mid.alias("1"), after.alias("2"))
        node = Node("str.rpartition", {"sep": sep}, s._expr)
        return _PDF(sdf, node, s._index_cols, s._index_names,
                    s._entries(s._index_cols), _PARTS_AXIS)

    def extractall(self, pat: str):
        """pandas ``str.extractall``: every regex match becomes a row —
        ``regexp_extract_all`` per capture group (JVM), arrays zipped and
        pos-exploded into the (index, match) MultiIndex shape."""
        import re as _re
        ngroups = _re.compile(pat).groups
        if ngroups == 0:
            raise ValueError("extractall requires capture groups in pattern")
        s = self._s
        c = s._scol
        arrs = [F.regexp_extract_all(c, F.lit(pat), g + 1)
                .alias(f"__g{g}__") for g in range(ngroups)]
        base = s._sdf.select(*[F.col(ic) for ic in s._index_cols], *arrs)
        ex = base.select(
            *[F.col(ic) for ic in s._index_cols],
            F.posexplode(F.arrays_zip(
                *[F.col(f"__g{g}__") for g in range(ngroups)]))
            .alias("match", "__z__"))
        out = ex.select(*[F.col(ic) for ic in s._index_cols],
                        F.col("match").cast("long"),
                        *[F.col("__z__")[f"__g{g}__"].alias(str(g))
                          for g in range(ngroups)])
        from .._collection import DataFrame as _PDF
        from .._expr import Node
        node = Node("str.extractall", {"pat": pat}, s._expr)
        idx = tuple(s._index_cols) + ("match",)
        names = tuple(s._index_names or (None,) * len(s._index_cols))             + ("match",)
        return _PDF(out, node, idx, names)

    def cat(self, others=None, sep: str = "", na_rep: str | None = None):
        if na_rep is not None:
            # pandas na_rep: nulls render as the replacement everywhere
            base = self._wrap(F.coalesce(self._s._scol, F.lit(na_rep)),
                              "str.fill")
            if others is not None and not isinstance(others, (list, tuple)):
                others = [others]
            if others is not None:
                others = [o.fillna(na_rep) for o in others]
            return base.str.cat(others, sep=sep)
        if others is None:
            # reduction form: concatenate ALL values into one string.
            # Inherently a global fold — ordered by the engine index when
            # one exists (sort_array over (idx, value) structs), else
            # partition order (documented; a 100 TB global concat is a
            # driver-sized result by definition).
            from .._collection import Scalar
            from .._expr import Node
            s = self._s
            if s._index_cols:
                st = F.struct(*[F.col(c) for c in s._index_cols],
                              s._scol.alias("__v__"))
                arr = F.sort_array(F.collect_list(st))
                joined = F.array_join(
                    F.transform(arr, lambda x: x["__v__"]), sep)
            else:
                joined = F.array_join(F.collect_list(s._scol), sep)
            return Scalar(s._sdf.agg(joined.alias("cat")),
                          Node("str.cat", {"sep": sep}, s._expr))
        if not isinstance(others, (list, tuple)):
            others = [others]
        cols = [self._s._scol] + [o._scol for o in others]
        # pandas na_rep=None: ANY null operand nulls the row — concat_ws
        # would silently skip nulls instead
        non_null = cols[0].isNotNull()
        for c in cols[1:]:
            non_null = non_null & c.isNotNull()
        return self._wrap(F.when(non_null, F.concat_ws(sep, *cols)),
                          "str.cat")

    def pad(self, width: int, side: str = "left", fillchar: str = " "):
        # Spark lpad/rpad TRUNCATE values longer than width; pandas never
        # truncates — guard with the original value
        if side == "both":
            return self.center(width, fillchar)
        c = self._s._scol
        fn = F.lpad if side == "left" else F.rpad
        out = F.when(F.length(c) >= width, c).otherwise(fn(c, width, fillchar))
        return self._wrap(out, "str.pad")

    def zfill(self, width: int):
        """pandas ``str.zfill``: zeros go AFTER a leading +/- sign
        ('-5' → '-005'), like Python ``str.zfill``."""
        c = self._s._scol
        sign = F.substring(c, 1, 1)
        signed = sign.isin("-", "+")
        body = F.when(signed, F.substring(c, 2, 2 ** 31 - 1)).otherwise(c)
        pad = F.when(signed, F.concat(sign, F.lpad(body, width - 1, "0"))) \
               .otherwise(F.lpad(body, width, "0"))
        out = F.when(F.length(c) >= width, c).otherwise(pad)
        return self._wrap(out, "str.zfill")

    def repeat(self, n: int):
        return self._wrap(F.repeat(self._s._scol, n), "str.repeat")

    def find(self, sub: str):
        return self._wrap(F.instr(self._s._scol, sub) - 1, "str.find")

    def rfind(self, sub: str):
        """Highest 0-based index of ``sub`` (-1 if absent): locate the
        reversed needle in the reversed haystack — pure JVM, no regex."""
        c = self._s._scol
        rloc = F.locate(sub[::-1], F.reverse(c))
        out = F.when(rloc == 0, F.lit(-1)) \
            .otherwise(F.length(c) - rloc - (len(sub) - 1))
        return self._wrap(out, "str.rfind")

    def count(self, pat: str):
        """Occurrences of the regex ``pat`` (pandas counts regex matches)."""
        return self._wrap(F.regexp_count(self._s._scol, F.lit(pat)),
                          "str.count")

    def findall(self, pat: str):
        # pandas: a single capture group yields the group, else the whole
        # match — mirror via the regexp_extract_all group index
        import re as _re
        idx = 1 if _re.compile(pat).groups == 1 else 0
        return self._wrap(
            F.regexp_extract_all(self._s._scol, F.lit(pat), F.lit(idx)),
            "str.findall")

    def fullmatch(self, pat: str, case: bool = True, na=None):
        p = pat if case else f"(?i){pat}"
        return self._wrap(
            self._na_fill(self._s._scol.rlike(f"^(?:{p})$"), na),
            "str.fullmatch")

    def center(self, width: int, fillchar: str = " "):
        """pandas/Python ``str.center``: pad both sides; the odd fill char
        goes LEFT only when BOTH the margin and the width are odd
        (CPython: ``left = marg//2 + (marg & width & 1)``)."""
        c = self._s._scol
        total = F.lit(width) - F.length(c)
        left = (F.floor(total / 2)
                + (total.cast("int").bitwiseAND(F.lit(width))
                   .bitwiseAND(F.lit(1)))).cast("int")
        out = F.when(F.length(c) >= width, c).otherwise(
            F.concat(F.repeat(F.lit(fillchar), left), c,
                     F.repeat(F.lit(fillchar),
                              (total - left).cast("int"))))
        return self._wrap(out, "str.center")

    def ljust(self, width: int, fillchar: str = " "):
        return self.pad(width, side="right", fillchar=fillchar)

    def rjust(self, width: int, fillchar: str = " "):
        return self.pad(width, side="left", fillchar=fillchar)

    def removeprefix(self, prefix: str):
        c = self._s._scol
        out = F.when(c.startswith(prefix),
                     F.substring(c, len(prefix) + 1, 2 ** 31 - 1)).otherwise(c)
        return self._wrap(out, "str.removeprefix")

    def removesuffix(self, suffix: str):
        c = self._s._scol
        out = F.when(c.endswith(suffix),
                     F.substring(c, 1, F.length(c) - len(suffix))) \
            .otherwise(c)
        return self._wrap(out, "str.removesuffix")

    def slice_replace(self, start: int = 0, stop: int | None = None,
                      repl: str = ""):
        c = self._s._scol
        head = F.substring(c, 1, start)
        tail = (F.substring(c, stop + 1, 2 ** 31 - 1)
                if stop is not None else F.lit(""))
        return self._wrap(F.concat(head, F.lit(repl), tail),
                          "str.slice_replace")

    def translate(self, table: dict):
        """pandas ``str.translate`` restricted to 1-char → 1-char/None
        mappings (Spark ``translate``; ``None`` deletes).  Multi-char
        replacements raise — use ``str.replace``."""
        src, dst = "", ""
        for k, v in table.items():
            kc = chr(k) if isinstance(k, int) else k
            if v is None:
                vc = ""
            else:
                vc = chr(v) if isinstance(v, int) else v
            if len(kc) != 1 or len(vc) > 1:
                raise ValueError("translate supports 1-char keys and "
                                 "1-char/None values")
            # Spark translate deletes chars beyond dst length — deletions
            # must come LAST so positional pairing stays aligned
            if vc:
                src, dst = kc + src, vc + dst
            else:
                src = src + kc
        return self._wrap(F.translate(self._s._scol, src, dst),
                          "str.translate")

    def normalize(self, form: str):
        """Unicode normalization (NFC/NFKC/NFD/NFKD) — Arrow-batched
        pandas_udf (no JVM builtin; same precedent as ``str.title``)."""
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql import types as T

        @pandas_udf(T.StringType())
        def _norm(s: pd.Series) -> pd.Series:
            return s.str.normalize(form)
        return self._wrap(_norm(self._s._scol), "str.normalize")

    def isnumeric(self):
        return self._wrap(self._s._scol.rlike(r"^\p{N}+$"), "str.isnumeric")

    def islower(self):
        c = self._s._scol
        return self._wrap((c == F.lower(c)) & (c != F.upper(c)), "str.islower")

    def isupper(self):
        c = self._s._scol
        return self._wrap((c == F.upper(c)) & (c != F.lower(c)), "str.isupper")

    def isspace(self):
        return self._wrap(self._s._scol.rlike(r"^\s+$"), "str.isspace")

    def istitle(self):
        """Python ``istitle``.  Unicode 'cased' covers more than Lu/Ll
        (titlecase Lt, letter-numerals like Ⅻ), which Java regex categories
        can't express — exact parity needs Python's casing tables, so this
        is an Arrow-batched pandas_udf (same precedent as ``str.title``)."""
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql import types as T

        @pandas_udf(T.BooleanType())
        def _istitle(s: pd.Series) -> pd.Series:
            return s.str.istitle()
        return self._wrap(_istitle(self._s._scol), "str.istitle")

    def isdigit(self):
        return self._wrap(self._s._scol.rlike(r"^[0-9]+$"), "str.isdigit")

    def isdecimal(self):
        # ASCII-range decimals (pandas counts Unicode decimals too; the
        # synthetic corpora are ASCII)
        return self._wrap(self._s._scol.rlike(r"^[0-9]+$"), "str.isdecimal")

    def join(self, sep: str):
        """pandas ``str.join`` over array-of-string values: any null
        element → null result (pandas NaN), else JVM ``array_join``."""
        c = self._s._scol
        out = F.when(c.isNull() | F.exists(c, lambda x: x.isNull()),
                     F.lit(None).cast("string")) \
               .otherwise(F.array_join(c, sep))
        return self._wrap(out, "str.join")

    def wrap(self, width: int, **kwargs):
        """pandas ``str.wrap`` (textwrap semantics) — exact parity needs
        Python's textwrap, so Arrow-batched pandas_udf like str.title."""
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql import types as T

        @pandas_udf(T.StringType())
        def _wrapf(s: pd.Series) -> pd.Series:
            return s.str.wrap(width, **kwargs)
        return self._wrap(_wrapf(self._s._scol), "str.wrap")

    def encode(self, encoding: str = "utf-8"):
        return self._wrap(F.encode(self._s._scol, encoding), "str.encode")

    def decode(self, encoding: str = "utf-8"):
        return self._wrap(F.decode(self._s._scol, encoding), "str.decode")

    def index(self, sub: str):
        raise NotImplementedError(
            "str.index raises per-row on a miss, which a lazy plan can't "
            "surface — use str.find (returns -1) instead")

    def rindex(self, sub: str):
        raise NotImplementedError(
            "str.rindex raises per-row on a miss — use str.rfind instead")

    def get_dummies(self, sep: str = "|"):
        """pandas ``str.get_dummies``: one distinct-discovery scan for the
        category set (same documented contract as module get_dummies),
        then one pure array_contains projection per category."""
        import re as _re
        s = self._s
        parts = F.split(s._scol, _re.escape(sep))
        cats = [r[0] for r in
                s._sdf.select(F.explode(parts).alias("__c__"))
                .filter(F.col("__c__") != "").distinct()
                .orderBy("__c__").collect()]
        from .._collection import DataFrame as _PDF
        from .._expr import Node
        sdf = s._sdf.select(
            *[F.col(ic) for ic in s._index_cols],
            # null strings dummy-encode as ALL-ZERO rows in pandas, not
            # null (r5 wave-L pin)
            *[F.coalesce(F.array_contains(parts, c_).cast("long"),
                         F.lit(0).cast("long")).alias(c_)
              for c_ in cats])
        node = Node("str.get_dummies", {"sep": sep}, s._expr)
        return _PDF(sdf, node, s._index_cols, s._index_names)

    def isalpha(self):
        return self._wrap(self._s._scol.rlike(r"^[A-Za-z]+$"), "str.isalpha")

    def isalnum(self):
        return self._wrap(self._s._scol.rlike(r"^[A-Za-z0-9]+$"), "str.isalnum")


class DatetimeAccessor(_Accessor):
    """``ser.dt.*`` → ``F.*`` date functions."""

    @property
    def year(self): return self._wrap(F.year(self._s._scol), "dt.year")
    @property
    def month(self): return self._wrap(F.month(self._s._scol), "dt.month")

    def month_name(self):
        """pandas ``dt.month_name()`` — full English month name
        (``date_format 'MMMM'``, JVM default locale)."""
        return self._wrap(F.date_format(self._s._scol, "MMMM"),
                          "dt.month_name")

    def day_name(self):
        """pandas ``dt.day_name()`` — full English weekday name."""
        return self._wrap(F.date_format(self._s._scol, "EEEE"),
                          "dt.day_name")
    @property
    def day(self): return self._wrap(F.dayofmonth(self._s._scol), "dt.day")
    @property
    def hour(self): return self._wrap(F.hour(self._s._scol), "dt.hour")
    @property
    def minute(self): return self._wrap(F.minute(self._s._scol), "dt.minute")
    @property
    def second(self): return self._wrap(F.second(self._s._scol), "dt.second")
    @property
    def dayofweek(self):
        # pandas: Monday=0; Spark dayofweek: Sunday=1
        return self._wrap(((F.dayofweek(self._s._scol) + 5) % 7), "dt.dayofweek")
    weekday = dayofweek
    day_of_week = dayofweek
    @property
    def dayofyear(self): return self._wrap(F.dayofyear(self._s._scol), "dt.dayofyear")
    day_of_year = dayofyear
    @property
    def microsecond(self):
        # sub-second part in microseconds (pandas); Spark stores micros
        return self._wrap(
            (F.unix_micros(self._s._scol) % F.lit(1_000_000)).cast("int"),
            "dt.microsecond")
    @property
    def nanosecond(self):
        # Spark timestamps have microsecond resolution — always 0
        return self._wrap(
            F.when(self._s._scol.isNotNull(), F.lit(0)).cast("int"),
            "dt.nanosecond")
    @property
    def quarter(self): return self._wrap(F.quarter(self._s._scol), "dt.quarter")
    @property
    def date(self): return self._wrap(F.to_date(self._s._scol), "dt.date")
    @property
    def week(self): return self._wrap(F.weekofyear(self._s._scol), "dt.week")

    def isocalendar(self):
        """pandas ``dt.isocalendar()``: (year, week, day) of the ISO
        calendar as a DataFrame — pure JVM date math (the ISO year is the
        calendar year of that week's Thursday)."""
        s = self._s
        c = s._scol
        isodow = ((F.dayofweek(c) + 5) % 7) + 1
        isoyear = F.year(F.date_add(F.to_date(c), 4 - isodow))
        from .._collection import DataFrame as _PDF
        from .._expr import Node
        sdf = s._sdf.select(*[F.col(ic) for ic in s._index_cols],
                            isoyear.cast("long").alias("year"),
                            F.weekofyear(c).cast("long").alias("week"),
                            isodow.cast("long").alias("day"))
        node = Node("dt.isocalendar", {}, s._expr)
        return _PDF(sdf, node, s._index_cols, s._index_names)
    weekofyear = week

    @property
    def days_in_month(self):
        c = self._s._scol
        return self._wrap(F.dayofmonth(F.last_day(c)), "dt.days_in_month")
    daysinmonth = days_in_month

    def _flag(self, cond, op):
        # pandas boolean dt flags are plain bool: NaT → False, never null
        return self._wrap(F.coalesce(cond, F.lit(False)), op)

    @property
    def is_month_start(self):
        return self._flag(F.dayofmonth(self._s._scol) == 1,
                          "dt.is_month_start")

    @property
    def is_month_end(self):
        c = self._s._scol
        return self._flag(F.to_date(c) == F.last_day(c), "dt.is_month_end")

    @property
    def is_quarter_start(self):
        c = self._s._scol
        return self._flag((F.dayofmonth(c) == 1) & ((F.month(c) - 1) % 3 == 0),
                          "dt.is_quarter_start")

    @property
    def is_quarter_end(self):
        c = self._s._scol
        return self._flag((F.to_date(c) == F.last_day(c))
                          & (F.month(c) % 3 == 0), "dt.is_quarter_end")

    @property
    def is_year_start(self):
        c = self._s._scol
        return self._flag((F.month(c) == 1) & (F.dayofmonth(c) == 1),
                          "dt.is_year_start")

    @property
    def is_year_end(self):
        c = self._s._scol
        return self._flag((F.month(c) == 12) & (F.dayofmonth(c) == 31),
                          "dt.is_year_end")

    @property
    def is_leap_year(self):
        y = F.year(self._s._scol)
        leap = ((y % 4 == 0) & (y % 100 != 0)) | (y % 400 == 0)
        return self._flag(leap, "dt.is_leap_year")

    def floor(self, freq: str):
        spark_freq = {"D": "day", "H": "hour", "h": "hour", "T": "minute",
                      "min": "minute", "S": "second", "W": "week",
                      "M": "month", "MS": "month", "Y": "year"}[freq]
        return self._wrap(F.date_trunc(spark_freq, self._s._scol), "dt.floor")

    truncate = floor

    _FIXED_US = {"S": 1_000_000, "s": 1_000_000, "T": 60_000_000,
                 "min": 60_000_000, "H": 3_600_000_000, "h": 3_600_000_000,
                 "D": 86_400_000_000, "d": 86_400_000_000}

    def _fixed_step(self, freq: str) -> int:
        import re
        m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", freq.strip())
        if not m or m.group(2) not in self._FIXED_US:
            raise ValueError(f"dt.round/ceil: fixed frequency expected "
                             f"(s/min/h/D multiples), got {freq!r}")
        return (int(m.group(1)) if m.group(1) else 1) * self._FIXED_US[m.group(2)]

    def _micros(self):
        """Epoch micros + a caster back to the column's own timestamp
        flavor (``unix_micros`` rejects TIMESTAMP_NTZ; under the engine's
        pinned UTC session the NTZ↔LTZ cast is value-preserving)."""
        from pyspark.sql import types as T
        c = self._s._scol
        dt = self._s.spark_type
        if isinstance(dt, T.TimestampNTZType):
            return (F.unix_micros(c.cast("timestamp")),
                    lambda e: F.timestamp_micros(e).cast("timestamp_ntz"))
        return F.unix_micros(c), F.timestamp_micros

    def round(self, freq: str):
        """pandas ``dt.round``: nearest multiple of a fixed frequency, halves
        to EVEN multiples (pandas/numpy banker's rule) — pure epoch-micros
        arithmetic, whole-stage codegen."""
        step = F.lit(self._fixed_step(freq))
        e, back = self._micros()
        # floor-mod (pmod) so pre-1970 timestamps round correctly too
        r = F.pmod(e, step)
        base = e - r
        q = F.floor(base / step)
        up = (r > step / 2) | ((r * 2 == step) & (F.pmod(q, 2) == 1))
        rounded = F.when(up, base + step).otherwise(base)
        return self._wrap(back(rounded), "dt.round")

    def ceil(self, freq: str):
        """pandas ``dt.ceil``: smallest multiple of the fixed freq ≥ ts."""
        step = F.lit(self._fixed_step(freq))
        e, back = self._micros()
        r = F.pmod(e, step)
        return self._wrap(back(
            F.when(r == 0, e).otherwise(e - r + step)), "dt.ceil")

    def normalize(self):
        """pandas ``dt.normalize``: midnight of the same day."""
        return self._wrap(F.date_trunc("day", self._s._scol), "dt.normalize")

    @property
    def time(self):
        """Wall-clock time as an ``HH:mm:ss`` string (Spark has no TIME
        dtype; pandas returns ``datetime.time`` objects)."""
        return self._wrap(F.date_format(self._s._scol, "HH:mm:ss"),
                          "dt.time")

    def tz_localize(self, tz: str | None):
        """Interpret the (timezone-naive) wall-clock values as ``tz`` local
        time and return the corresponding UTC instants
        (``to_utc_timestamp``).  ``tz_localize("UTC")`` is the identity, as
        in pandas with a UTC session.  The tz rides as boundary metadata
        so ``compute()`` returns tz-AWARE timestamps like pandas (r5).
        ``tz_localize(None)`` STRIPS awareness: the stored value already
        holds the wall clock of the series' current tz, so the strip is
        just dropping the boundary metadata (wave V — it previously fell
        into to_utc_timestamp(None) and nulled every value)."""
        if tz is None:
            cur = self._s._value_dtype
            col = self._s._scol
            if (cur is not None and cur.stored == "utc"
                    and cur.tz not in ("UTC", "utc")):
                # stored as UTC instants of a non-UTC zone: pandas
                # tz_localize(None) keeps the LOCAL wall clock
                col = F.from_utc_timestamp(col, cur.tz)
            return self._wrap(col, "dt.tz_localize_none")
        return self._wrap(F.to_utc_timestamp(self._s._scol, tz),
                          "dt.tz_localize", _dtypes.Presented(
                              "datetimetz", tz=tz, stored="utc"))

    def tz_convert(self, tz: str):
        """Render UTC instants as ``tz`` wall-clock values
        (``from_utc_timestamp``) — the engine stores naive-UTC timestamps,
        so "converting" produces the shifted wall clock (JVM calendar
        fields like ``.dt.hour`` read correctly).  The tz rides as
        boundary metadata so ``compute()`` re-attaches awareness (r5)."""
        return self._wrap(F.from_utc_timestamp(self._s._scol, tz),
                          "dt.tz_convert", _dtypes.Presented(
                              "datetimetz", tz=tz, stored="wall"))

    def strftime(self, fmt: str):
        # full strftime → JVM pattern translation (shared with
        # pd.to_datetime(format=)); lazy import avoids the package cycle
        from pandas_expr_spark import _strftime_to_jvm
        return self._wrap(F.date_format(self._s._scol,
                                        _strftime_to_jvm(fmt)),
                          "dt.strftime")

    def to_period(self, freq: str):
        """Timestamp → period (SURVEY §1.4): stored as the period's START
        timestamp (``date_trunc``) with the freq recorded as driver-side
        metadata, so a later ``to_timestamp`` can reconstruct either edge.
        Pure column expression — whole-stage codegen, no shuffle."""
        from .timeseries import period_start_col
        return self._wrap(period_start_col(self._s._scol, freq),
                          "dt.to_period",
                          _dtypes.Presented("period", freq=freq))

    def _period_edge(self, how: str):
        f = self._s._period_freq
        if f is None:
            raise AttributeError(
                f"{'start' if how == 'start' else 'end'}_time is only "
                "defined for period-valued series (dt.to_period first)")
        from .timeseries import period_to_timestamp_col
        return self._wrap(
            period_to_timestamp_col(self._s._scol, f, how),
            f"dt.{how}_time")

    @property
    def start_time(self):
        """pandas ``PeriodProperties.start_time`` — the stored period
        start itself (pure projection)."""
        return self._period_edge("start")

    @property
    def end_time(self):
        """pandas ``PeriodProperties.end_time`` — next period start minus
        1 microsecond (the engine's finest timestamp unit; pandas' is
        1 ns)."""
        return self._period_edge("end")

    def to_timestamp(self, freq: str | None = None, how: str = "start"):
        """Period-valued series → timestamps (pandas ``.dt.to_timestamp``
        for PeriodDtype).  Uses the freq recorded by ``to_period`` /
        ``from_pandas`` unless overridden."""
        from .timeseries import period_to_timestamp_col
        f = freq or self._s._period_freq
        if f is None:
            raise ValueError("dt.to_timestamp: series has no period freq "
                             "metadata; pass freq=")
        return self._wrap(period_to_timestamp_col(self._s._scol, f, how),
                          "dt.to_timestamp")


class TimedeltaAccessor(_Accessor):
    """``ser.dt.*`` for DAY-TIME INTERVAL columns (pandas TimedeltaDtype).

    A timestamp difference in the engine is Spark's
    ``DayTimeIntervalType``; components come from ``extract`` and the total
    from the component sum — all pure column expressions."""

    def _total_us(self):
        """Signed total microseconds — components via ``extract`` (which is
        sign-preserving per component), recombined so the floor-division
        below reproduces pandas' normalized representation (e.g. -61 s →
        -1 days +23:58:59)."""
        c = self._s._scol
        d = F.extract(F.lit("DAY"), c).cast("double")
        h = F.extract(F.lit("HOUR"), c).cast("double")
        m = F.extract(F.lit("MINUTE"), c).cast("double")
        s = F.extract(F.lit("SECOND"), c).cast("double")
        return ((d * 86400 + h * 3600 + m * 60 + s) * 1_000_000) \
            .cast("decimal(28,0)")

    def total_seconds(self):
        """pandas ``dt.total_seconds()`` — fractional seconds preserved."""
        return self._wrap(self._total_us().cast("double") / 1e6,
                          "dt.total_seconds")

    @property
    def days(self):
        """pandas ``dt.days``: floor division (negative durations normalize
        to -1 days + positive time-of-day, as pandas does)."""
        return self._wrap(F.floor(self._total_us() / 86_400_000_000)
                          .cast("long"), "dt.days")

    @property
    def seconds(self):
        """Whole seconds within the (floor-normalized) day component."""
        t = self._total_us()
        rem = t - F.floor(t / 86_400_000_000).cast("decimal(28,0)") \
            * 86_400_000_000
        return self._wrap(F.floor(rem / 1_000_000).cast("long"),
                          "dt.seconds")

    @property
    def microseconds(self):
        t = self._total_us()
        rem = t - F.floor(t / 1_000_000).cast("decimal(28,0)") * 1_000_000
        return self._wrap(rem.cast("long"), "dt.microseconds")


class CategoricalAccessor(_Accessor):
    """Reference ``CategoricalAccessor`` (``_categorical.py:39-120``).

    Categories live in the Series' dtype record entry (``categories`` is
    ``None`` while unknown); ``as_known`` computes them via ``distinct()``
    exactly as the reference's ``as_known`` computes ``.unique()``
    (``_categorical.py:55-76``).
    """

    @property
    def known(self) -> bool:
        return self._cats is not None

    @property
    def ordered(self) -> bool:
        e = self._s._value_dtype
        return e is not None and e.ordered

    @property
    def _cats(self) -> list | None:
        e = self._s._value_dtype
        return None if e is None or e.categories is None \
            else list(e.categories)

    def _tagged(self, scol, op: str, cats, ordered=None):
        return self._wrap(scol, op, _dtypes.category(
            cats, self.ordered if ordered is None else ordered))

    def as_known(self):
        # pandas: null is NEVER a category (it stays code -1), so the
        # distinct-discovery scan filters it out (r5 hunt pin)
        cats = [r[0] for r in
                self._s._sdf.select(self._s._scol.alias("__c__"))
                .filter(self._s._scol.isNotNull())
                .distinct().orderBy("__c__").collect()]
        return self._tagged(self._s._scol, "cat.as_known", cats)

    def as_unknown(self):
        return self._tagged(self._s._scol, "cat.as_unknown", None)

    def as_ordered(self):
        return self._tagged(self._s._scol, "cat.as_ordered", self._cats,
                            True)

    def as_unordered(self):
        return self._tagged(self._s._scol, "cat.as_unordered", self._cats,
                            False)

    def set_categories(self, cats, ordered: bool | None = None):
        """pandas ``cat.set_categories``: values outside the new list become
        null (a JVM-side ``isin`` guard — no data movement)."""
        cats = list(cats)
        c = self._s._scol
        scol = F.when(c.isin(cats), c).otherwise(F.lit(None))
        return self._tagged(scol, "cat.set_categories", cats, ordered)

    def reorder_categories(self, cats, ordered: bool | None = None):
        if self.known and sorted(map(str, cats)) != sorted(map(str, self._cats)):
            raise ValueError("items in new_categories are not the same as in "
                             "old categories")
        return self._tagged(self._s._scol, "cat.reorder_categories",
                            list(cats), ordered)

    @property
    def categories(self):
        if not self.known:
            raise ValueError("categories are unknown; call .cat.as_known() first")
        return self._cats

    @property
    def codes(self):
        """Dictionary-encode: dense_rank over the category ordering.  At scale
        this is a broadcast-join against the (small) category list."""
        if self.known:
            c = self._s._scol
            # pandas: null and out-of-category values code to -1 (r5 pin;
            # the old None base surfaced as NaN)
            out = F.lit(-1)
            for i, cat in enumerate(self._cats):
                out = F.when(c == F.lit(cat), F.lit(i)).otherwise(out)
            return self._wrap(out.cast("int"), "cat.codes")
        # unknown categories: codes depend only on the VALUE, so rank the
        # distinct-value table and join back (Series.rank dense machinery)
        # instead of a global dense_rank window over every row — the latter
        # funnels the whole table through one task at 100 TB.  Nulls code
        # to -1 (pandas).
        r = self._s.rank(method="dense")
        return (r - 1).fillna(-1).astype("int")

    def rename_categories(self, mapping: dict):
        c = self._s._scol
        out = c
        for k, v in mapping.items():
            out = F.when(c == F.lit(k), F.lit(v)).otherwise(out)
        cats = ([mapping.get(c_, c_) for c_ in self._cats]
                if self.known else None)
        return self._tagged(out, "cat.rename_categories", cats)

    def add_categories(self, new):
        # pandas works off DISCOVERED categories when they're unknown —
        # run the as_known discovery scan first (wave U)
        src = (self._s if self.known else self.as_known()).cat
        new = new if isinstance(new, list) else [new]
        return src._tagged(src._s._scol, "cat.add_categories",
                           src._cats + new)

    def remove_unused_categories(self):
        """pandas ``cat.remove_unused_categories``: keep only categories
        that actually occur.  One distinct scan over the (already
        dictionary-narrow) column — the observed set is bounded by the
        category list, never by row count."""
        if not self.known:
            # unknown categories are discovered from the data, so every
            # category is observed by construction
            return self._s
        observed = {r[0] for r in
                    self._s._sdf.select(self._s._scol.alias("__c__"))
                    .filter(self._s._scol.isNotNull()).distinct().collect()}
        return self._tagged(self._s._scol, "cat.remove_unused_categories",
                            [c for c in self._cats if c in observed])

    def remove_categories(self, removals):
        if not self.known:
            raise ValueError("unknown categories")
        removals = removals if isinstance(removals, list) else [removals]
        c = self._s._scol
        scol = F.when(c.isin(removals), F.lit(None)).otherwise(c)
        return self._tagged(scol, "cat.remove_categories",
                            [x for x in self._cats if x not in removals])


class ListAccessor(_Accessor):
    """``ser.list.*`` for array-typed columns (pandas 2.x ArrowDtype
    ``.list`` accessor parity) — every method is a JVM array function,
    whole-stage codegen, no Python."""

    def len(self):
        # array_size: null array → null (pandas NA), unlike size()'s -1
        return self._wrap(F.array_size(self._s._scol), "list.len")

    def __getitem__(self, key):
        c = self._s._scol
        if isinstance(key, slice):
            if key.step not in (None, 1):
                raise NotImplementedError("list[::step] is not supported")
            start = key.start or 0
            if start < 0 or (key.stop is not None and key.stop < 0):
                raise NotImplementedError("negative slice bounds")
            if key.stop is None:
                n = F.array_size(c) - F.lit(start)
            else:
                n = F.greatest(F.lit(key.stop - start), F.lit(0))
            return self._wrap(F.slice(c, F.lit(start + 1), n), "list.slice")
        i = int(key)
        # element_at is 1-based; negative counts from the end (Python)
        pos = i + 1 if i >= 0 else i
        return self._wrap(
            F.when(F.lit(abs(pos)) <= F.array_size(c),
                   F.element_at(c, pos)),
            "list.getitem")

    def flatten(self):
        """One nesting level removed per element (array<array<T>> →
        array<T>); pandas' row-expanding flatten is ``Series.explode``."""
        return self._wrap(F.flatten(self._s._scol), "list.flatten")


class StructAccessor(_Accessor):
    """``ser.struct.*`` for struct-typed columns (pandas 2.x ArrowDtype
    ``.struct`` accessor parity)."""

    def _fields(self):
        return self._s.spark_type.fields

    @property
    def dtypes(self):
        from .._dtypes import to_pandas_dtype
        return pd.Series({f.name: to_pandas_dtype(f.dataType)
                          for f in self._fields()})

    def field(self, name_or_index):
        fields = self._fields()
        name = (fields[name_or_index].name
                if isinstance(name_or_index, int) else name_or_index)
        out = self._wrap(self._s._scol.getField(name), "struct.field")
        out._col_name = name
        return out

    def explode(self):
        """All struct fields as DataFrame columns (pure projection)."""
        s = self._s
        f = s.to_frame()
        col = f.columns[0]
        sdf = f._sdf.select(
            *[F.col(c) for c in f._index_cols],
            *[F.col(col).getField(fl.name).alias(fl.name)
              for fl in self._fields()])
        from .. import _collection as _c
        return _c.DataFrame(sdf, _c.Node("struct.explode", {}, f._expr),
                            f._index_cols, f._index_names)
