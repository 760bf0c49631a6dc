"""Sources / sinks (reference ``io/`` → SURVEY §2.1).

The reference supports in-memory pandas, CSV and Parquet
(``io/io.py:17-20``, ``io/csv.py:8-20``, ``io/parquet.py:79-197``).  Spark
gives JSON/ORC/JDBC free, so they are first-class here from day one.

**Scan-sharing CSE** (reference ``combine_similar``, ``_expr.py:304-381``;
SURVEY §4.2): two reads of the same source return the *same* Spark DataFrame
object, keyed by a deterministic token.  Catalyst will not unify separate
DataFrame lineages, but it *does* reuse an identical scan node appearing twice
in one plan (ReusedExchange / scan dedup under AQE) — so self-joins and
``df[df.b == 1]``-style self-references cost one scan, not two.

Pushdown note: ``columns``/``filters`` arguments become ``.select``/
``.filter`` calls *before* any other op, which Catalyst pushes into the
Parquet reader (``PushedFilters``/``ReadSchema`` in ``.explain``) — the
reference implements this by hand (``io/parquet.py:167-183``); we get
row-group + page-level skipping free.
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import DataFrame as SparkDF, functions as F

from .. import _dtypes
from .._collection import DataFrame
from .._expr import Node, tokenize
from .._session import get_spark

__all__ = ["read_parquet", "read_csv", "read_json", "read_orc", "read_jdbc",
           "read_text", "read_binary",
           "from_pandas", "from_spark"]

# token → lowered SparkDF (per-session scan cache)
_SCAN_CACHE: dict[tuple[int, str], SparkDF] = {}


def _cached_scan(token: str, build) -> SparkDF:
    spark = get_spark()
    key = (id(spark), token)
    if key not in _SCAN_CACHE:
        _SCAN_CACHE[key] = build(spark)
    return _SCAN_CACHE[key]


def _dnf_to_condition(filters) -> Any:
    """pandas/pyarrow DNF filters → one Spark Column.

    Reference accepts ``[[(col, op, val), ...], ...]`` (OR of ANDs) or a single
    AND list (``io/parquet.py:175-183``, ``_DNF`` :205-317).
    """
    ops = {
        "==": lambda c, v: F.col(c) == v,
        "=": lambda c, v: F.col(c) == v,
        "!=": lambda c, v: F.col(c) != v,
        "<": lambda c, v: F.col(c) < v,
        "<=": lambda c, v: F.col(c) <= v,
        ">": lambda c, v: F.col(c) > v,
        ">=": lambda c, v: F.col(c) >= v,
        "in": lambda c, v: F.col(c).isin(list(v)),
        "not in": lambda c, v: ~F.col(c).isin(list(v)),
    }
    if filters and isinstance(filters[0], tuple):
        filters = [filters]
    disjuncts = None
    for conj in filters:
        cond = None
        for col, op, val in conj:
            c = ops[op](col, val)
            cond = c if cond is None else (cond & c)
        disjuncts = cond if disjuncts is None else (disjuncts | cond)
    return disjuncts


# beyond this many data files the literal offset map stops being a
# reasonable plan constant — labels fall back to renumber-on-filter
_LABEL_MAX_FILES = 256


def _parquet_file_offsets(path: str):
    """``{raw_basename: start_offset}`` per parquet data file in pandas
    read order (sorted paths), from FOOTER metadata only — no data IO.

    Keyed by file BASENAME, not full path (r7 advice): Spark's
    ``_metadata.file_path`` is a percent-encoded URI while pyarrow reports
    raw filesystem paths, and scheme/bucket normalization differs between
    the two (``s3://b/x`` vs ``/b/x`` vs ``b/x``) — basename matching
    sidesteps every prefix discrepancy.  ``_labeled_parquet_scan`` bridges
    the encoding gap by unquoting Spark's OWN basenames (from
    ``inputFiles()``) against these raw keys.  Duplicate basenames make
    the map ambiguous — return None, degrading to renumber-on-filter."""
    try:
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq
        files = sorted(ds.dataset(path, format="parquet").files)
        if not files or len(files) > _LABEL_MAX_FILES:
            return None
        offs = {}
        total = 0
        for f in files:
            base = str(f).rstrip("/").rsplit("/", 1)[-1]
            if base in offs:
                return None
            offs[base] = total
            total += pq.ParquetFile(f).metadata.num_rows
        return offs
    except Exception:
        return None


def _labeled_parquet_scan(spark, path: str) -> SparkDF:
    """Parquet scan carrying the hidden positional-label column.

    Label = per-file start offset (footer row counts, prefix-summed in
    pandas read order) + ``_metadata.row_index`` (Spark 4.1 reader-
    generated per-file row position — predicate pushdown intact, zero
    shuffle, zero extra disk IO; the ``_tmp_metadata_row_index`` entry in
    ``ReadSchema`` is synthesized by the reader, not read from storage).
    Lets bare filter/dropna return pandas' original row labels
    (reference semantics: ``_expr.py:1355-1363`` executes ``df[mask]``
    with pandas label preservation)."""
    from .._collection import _LABEL
    sdf = spark.read.parquet(path)
    offs = _parquet_file_offsets(path)
    if offs is None:
        return sdf
    try:
        ri = F.col("_metadata.row_index")
        if len(offs) == 1:
            label = ri
        else:
            # Bridge Spark's URI encoding at BUILD time (file listing
            # only, no data IO): Spark's literal basenames (encoded —
            # space→%20, é and + left raw) unquote to pyarrow's raw
            # basenames; the runtime map is keyed by Spark's OWN literals
            # so no per-row decode is needed (url_decode's form semantics
            # would corrupt literal '+').  Any non-bijective match →
            # unlabeled scan (renumber fallback), never null labels or an
            # ANSI MAP_KEY_DOES_NOT_EXIST crash (r7 advice).
            from urllib.parse import unquote
            spark_files = sdf.inputFiles()
            if len(spark_files) != len(offs):
                return sdf
            pairs, hit = [], set()
            for f in spark_files:
                lit_base = f.rstrip("/").rsplit("/", 1)[-1]
                raw = unquote(lit_base)
                if raw not in offs or raw in hit:
                    return sdf
                hit.add(raw)
                pairs += [F.lit(lit_base), F.lit(offs[raw])]
            # try_element_at: belt-and-braces against an unforeseen
            # runtime/file-listing discrepancy
            fp = F.substring_index(F.col("_metadata.file_path"), "/", -1)
            label = F.try_element_at(F.create_map(*pairs), fp) + ri
        out = sdf.select("*", label.alias(_LABEL))
        out.schema  # force analysis — fall back if _metadata unsupported
        return out
    except Exception:
        return sdf


def read_parquet(path: str, columns: Sequence[str] | None = None,
                 filters=None, **kwargs) -> DataFrame:
    """Reference ReadParquet ``io/parquet.py:79-197``."""
    from .._collection import _LABEL
    token = tokenize("read_parquet", path)
    sdf = _cached_scan(token, lambda spark: _labeled_parquet_scan(spark, path))
    node = Node("read_parquet", {"path": path})
    if filters is not None:
        # pandas read_parquet(filters=...) renumbers 0..n-1 — drop the
        # label so downstream filters renumber identically
        if _LABEL in sdf.columns:
            sdf = sdf.drop(_LABEL)
        sdf = sdf.filter(_dnf_to_condition(filters))
        node = Node("filter", {"predicate": repr(filters)}, node)
    if columns is not None:
        keep = list(columns) + ([_LABEL] if _LABEL in sdf.columns else [])
        sdf = sdf.select(*keep)
        node = Node("projection", {"columns": list(columns)}, node)
    return DataFrame(sdf, node)


def read_csv(path: str, usecols: Sequence[str] | None = None,
             header: bool | int | None = True, infer_schema: bool = True,
             schema=None, names: Sequence[str] | None = None,
             sep: str | None = None, dtype=None, parse_dates=None,
             nrows: int | None = None, skiprows=None,
             index_col=None, **kwargs) -> DataFrame:
    """Reference ReadCSV ``io/csv.py:8-20``.  Schema inference reads a sample
    (Spark-side analogue of the reference's 1-row meta read); pass
    ``schema=`` to skip the inference pass at scale.  pandas spellings:
    ``header=None`` (no header row), ``names=`` (column names), ``sep=``,
    ``dtype=`` (per-column cast), ``parse_dates=`` (timestamp cast),
    ``nrows=`` (limit), ``skiprows=[lines]`` (file-position filter over
    the in-order scan), ``index_col=`` (post-read set_index).  Unknown
    kwargs raise — silent acceptance hides wrong results."""
    if "inferSchema" in kwargs:          # camelCase back-compat alias
        infer_schema = kwargs.pop("inferSchema")
    if kwargs:
        raise NotImplementedError(
            f"read_csv: unsupported arguments {sorted(kwargs)}")
    use_header = header is not None and header is not False
    token = tokenize("read_csv", path, use_header, infer_schema,
                     str(schema), tuple(names or ()), sep)

    def build(spark):
        r = spark.read.option("header", use_header)
        if sep is not None:
            r = r.option("sep", sep)
        if schema is not None:
            r = r.schema(schema)
        else:
            r = r.option("inferSchema", infer_schema)
        out = r.csv(path)
        if names is not None:
            out = out.toDF(*[str(n) for n in names])
        elif not use_header:
            # pandas header=None: positional int labels 0..n-1, not
            # Spark's _c0.._cN (engine columns are strings — "0", "1")
            out = out.toDF(*[str(i) for i in range(len(out.columns))])
        if schema is None and infer_schema:
            # pandas parity for the INFERRED schema: every integral
            # column is int64 (Spark picks the narrowest), and date/
            # timestamp-looking text stays a STRING unless parse_dates=
            # asks for it.  Dates re-read with an explicit schema (the
            # raw text survives byte-exact); ints widen with a cast.
            from pyspark.sql import types as _T
            dateish = (_T.DateType, _T.TimestampType, _T.TimestampNTZType)
            if any(isinstance(f.dataType, dateish)
                   for f in out.schema.fields):
                new_schema = _T.StructType([
                    _T.StructField(
                        f.name,
                        _T.StringType() if isinstance(f.dataType, dateish)
                        else (_T.LongType()
                              if isinstance(f.dataType,
                                            (_T.ByteType, _T.ShortType,
                                             _T.IntegerType))
                              else f.dataType), True)
                    for f in out.schema.fields])
                r2 = spark.read.option("header", use_header)
                if sep is not None:
                    r2 = r2.option("sep", sep)
                out = r2.schema(new_schema).csv(path)
                if names is not None:
                    out = out.toDF(*[str(n) for n in names])
                return out
            widen = {f.name: F.col(f.name).cast("long")
                     for f in out.schema.fields
                     if isinstance(f.dataType, (_T.ByteType, _T.ShortType,
                                                _T.IntegerType))}
            if widen:
                out = out.withColumns(widen)
        return out

    sdf = _cached_scan(token, build)
    node = Node("read_csv", {"path": path})
    if skiprows is not None:
        # list of 0-based FILE line numbers (line 0 = the header when
        # header=True): translate to data-row positions and filter them
        # out via the distributed position pass — a single csv file scans
        # in file order, so positions == file lines
        if not isinstance(skiprows, (list, tuple, set)):
            raise NotImplementedError(
                "read_csv(skiprows=) supports a list of line numbers; an "
                "int head-skip changes where the header is parsed from")
        base = 1 if use_header else 0
        drop = {int(l) - base for l in skiprows if int(l) >= base}
        if any(int(l) < base for l in skiprows):
            raise NotImplementedError(
                "read_csv(skiprows=) cannot skip the header line")
        if drop:
            from .._collection import _ROWID, positions
            sdf = (positions(DataFrame(sdf, node))
                   .filter(~F.col(_ROWID).isin(list(drop)))
                   .drop(_ROWID))
    if nrows is not None:
        sdf = sdf.limit(int(nrows))
    if usecols is not None:
        sdf = sdf.select(*usecols)
        node = Node("projection", {"columns": list(usecols)}, node)
    if dtype is not None:
        _MAP = {"int64": "long", "int32": "int", "float64": "double",
                "float32": "float", "bool": "boolean", "object": "string",
                "str": "string", "string": "string"}
        if not isinstance(dtype, dict):
            dtype = {c: dtype for c in sdf.columns}
        casts = {c: F.col(c).cast(_MAP.get(str(t), str(t)))
                 for c, t in dtype.items() if c in sdf.columns}
        if casts:
            sdf = sdf.withColumns(casts)
    if parse_dates:
        cols = [parse_dates] if isinstance(parse_dates, str) else \
            list(parse_dates)
        sdf = sdf.withColumns({c: F.col(c).cast("timestamp")
                               for c in cols if c in sdf.columns})
    out = DataFrame(sdf, node)
    if index_col is not None:
        if isinstance(index_col, int):
            index_col = out.columns[index_col]
        out = out.set_index(index_col)
    return out


def read_json(path: str, schema=None, **kwargs) -> DataFrame:
    token = tokenize("read_json", path, str(schema))

    def build(spark):
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.json(path)

    return DataFrame(_cached_scan(token, build), Node("read_json", {"path": path}))


def read_orc(path: str, columns: Sequence[str] | None = None, **kwargs) -> DataFrame:
    token = tokenize("read_orc", path)
    sdf = _cached_scan(token, lambda spark: spark.read.orc(path))
    node = Node("read_orc", {"path": path})
    if columns is not None:
        sdf = sdf.select(*columns)
        node = Node("projection", {"columns": list(columns)}, node)
    return DataFrame(sdf, node)


def read_text(path: str, whole: bool = False,
              line_sep: str | None = None, **kwargs) -> DataFrame:
    """Plain-text source.  ``whole=False`` (default): one row per line
    (column ``value``) — splittable, scales to any file size.
    ``whole=True``: one row per FILE (``path``, ``value``) via
    ``wholetext`` — each file must fit in one task; use for
    document-per-file corpora where the file is the record."""
    token = tokenize("read_text", path, whole, line_sep)

    def build(spark):
        r = spark.read
        if line_sep is not None:
            r = r.option("lineSep", line_sep)
        if whole:
            # option("wholetext", ...) is ignored by the text reader —
            # only the .text(wholetext=) parameter takes effect
            return (r.text(path, wholetext=True)
                    .select(F.input_file_name().alias("path"), "value"))
        return r.text(path)

    return DataFrame(_cached_scan(token, build),
                     Node("read_text", {"path": path, "whole": whole}))


def read_binary(path: str, path_glob: str | None = None,
                recursive: bool = False, **kwargs) -> DataFrame:
    """Binary-file source (images/audio/video payloads) → columns
    ``path``, ``modificationTime``, ``length``, ``content`` (binary) —
    the ingestion end of the multimodal pipeline
    (``functions/multimodal.py`` consumes the payload column).

    Scale note: one row per file, a file never splits — fine for media
    objects (MBs), wrong for single giant archives; shard those upstream.
    ``pathGlobFilter`` pushes the name filter into file listing, so a
    directory of mixed types lists only the matching files."""
    token = tokenize("read_binary", path, path_glob, recursive)

    def build(spark):
        r = spark.read.format("binaryFile")
        if path_glob is not None:
            r = r.option("pathGlobFilter", path_glob)
        if recursive:
            r = r.option("recursiveFileLookup", True)
        return r.load(path)

    return DataFrame(_cached_scan(token, build),
                     Node("read_binary", {"path": path}))


def read_jdbc(url: str, table: str, properties: dict | None = None,
              partition_column: str | None = None, lower_bound=None,
              upper_bound=None, num_partitions: int | None = None) -> DataFrame:
    """JDBC source with partitioned reads (the scale-relevant knobs exposed)."""
    spark = get_spark()
    opts = dict(properties or {})
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in opts.items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (reader.option("partitionColumn", partition_column)
                  .option("lowerBound", lower_bound)
                  .option("upperBound", upper_bound)
                  .option("numPartitions", num_partitions or 32))
    return DataFrame(reader.load(), Node("read_jdbc", {"url": url, "table": table}))


def from_pandas(pdf, npartitions: int | None = None) -> DataFrame:
    """Reference PandasIO ``io/io.py:17-20``: in-memory data as a leaf.
    The pandas index is preserved as engine index columns.

    Period columns (SURVEY §1.4; reference ToTimestamp
    ``_expr.py:1159-1168``): Spark has no PeriodDtype, so each period
    index level / data column is stored as its **start timestamp** with
    the pandas freqstr recorded as driver-side metadata on the wrapper —
    ``to_timestamp`` then converts with pure column arithmetic."""
    import pandas as _pd
    if isinstance(pdf, _pd.Series):
        # reference ``from_pandas`` returns a Series collection for a
        # pandas Series input (io/io.py:17-20); lower through the frame
        # path, then select the single column back out
        name = pdf.name
        col = "__series__" if name is None else name
        frame = from_pandas(pdf.to_frame(col), npartitions)
        s = frame[col]
        return s if name is not None else s.rename(None)
    spark = get_spark()
    index_cols: tuple[str, ...] = ()
    index_names: tuple = ()
    stamp_order = False
    if not _is_default_index(pdf):
        names = [n if n is not None else f"__index_{i}__"
                 for i, n in enumerate(pdf.index.names)]
        # pandas positional ops (rolling/cumsum/shift) follow ROW order,
        # not label order — a non-monotonic index would otherwise make
        # the engine's index-ordered scans silently reorder (wave T).
        # The input is driver-held, so the presentation stamp is exact.
        try:
            monotonic = bool(pdf.index.is_monotonic_increasing)
        except TypeError:
            monotonic = False
        stamp_order = not monotonic
        pdf = pdf.reset_index()
        rename = {old: new for old, new in
                  zip(pdf.columns[: len(names)], names)}
        pdf = pdf.rename(columns=rename)
        index_cols = tuple(names)
        index_names = tuple(n if not str(n).startswith("__index_") else None
                            for n in names)
    if stamp_order:
        from .._collection import _ORDER as _ORDER_COL
        pdf = pdf.assign(**{_ORDER_COL: range(len(pdf))})
    if not index_cols and not stamp_order:
        # default RangeIndex: stamp the exact positional labels driver-
        # side (the input is already driver-held) so bare filter/dropna
        # keep pandas' original labels instead of renumbering.
        from .._collection import _LABEL as _LABEL_COL
        import numpy as _np
        pdf = pdf.assign(**{_LABEL_COL: _np.arange(len(pdf), dtype="int64")})
    # the dtype record (SURVEY §1.4): categories and period freqs are
    # driver-side entries; the values are stored as the physical
    # category type and as period-start timestamps
    dtypes = {}
    for c in pdf.columns:
        dt = pdf[c].dtype
        if isinstance(dt, _pd.CategoricalDtype):
            dtypes[c] = _dtypes.category(dt.categories, dt.ordered)
            pdf = pdf.assign(**{c: pdf[c].astype(dt.categories.dtype)})
        elif isinstance(dt, _pd.PeriodDtype):
            # freq.freqstr is offset-style in pandas 2.2+ ('ME'); periods
            # use the un-suffixed alias ('M') — normalize for to_period
            base, _, anchor = dt.freq.freqstr.partition("-")
            base = {"ME": "M", "QE": "Q", "YE": "Y"}.get(base, base)
            dtypes[c] = _dtypes.Presented(
                "period", freq=base + ("-" + anchor if anchor else ""))
            pdf = pdf.assign(**{c: pdf[c].dt.to_timestamp(how="start")})
    if len(pdf) == 0:
        # Spark cannot infer a schema from zero rows — build it from the
        # pandas dtypes so empty frames stay first-class (schema-preserving
        # filters, unions, tests on empty fixtures)
        from pyspark.sql import types as _T
        _MAP = {"int8": _T.ByteType(), "int16": _T.ShortType(),
                "int32": _T.IntegerType(), "int64": _T.LongType(),
                "float32": _T.FloatType(), "float64": _T.DoubleType(),
                "bool": _T.BooleanType(), "object": _T.StringType()}

        def _styp(dt):
            if str(dt).startswith("datetime64"):
                return _T.TimestampType()
            return _MAP.get(str(dt), _T.StringType())

        sdf = spark.createDataFrame(
            [], _T.StructType([_T.StructField(str(c), _styp(pdf[c].dtype),
                                              True) for c in pdf.columns]))
    else:
        sdf = spark.createDataFrame(pdf)
    # pandas NaN *is* missing; the Arrow path delivers float NaN as Spark
    # NaN, which Spark treats as a real (largest) value in sorts,
    # comparisons, percentile and covar — silently diverging from every
    # pandas skipna contract.  Normalize to null at the ingest boundary so
    # the whole engine sees one missing representation.  (NaN *produced*
    # downstream, e.g. 0/0, keeps Spark semantics — matching pandas, where
    # a computed NaN is also missing.)
    from pyspark.sql import types as T
    nan_fixes = {f.name: F.nanvl(F.col(f.name), F.lit(None))
                 for f in sdf.schema.fields
                 if isinstance(f.dataType, (T.DoubleType, T.FloatType))}
    if nan_fixes:
        sdf = sdf.withColumns(nan_fixes)
    if npartitions:
        sdf = sdf.repartition(npartitions)
    node = Node("from_pandas", {"columns": list(pdf.columns)})
    return DataFrame(sdf, node, index_cols, index_names or None, dtypes)


def _is_default_index(pdf) -> bool:
    import pandas as pd
    idx = pdf.index
    return (isinstance(idx, pd.RangeIndex) and idx.start == 0 and idx.step == 1
            and idx.name is None)


def from_spark(sdf: SparkDF) -> DataFrame:
    """Wrap an existing Spark DataFrame."""
    return DataFrame(sdf, Node("from_spark", {"columns": sdf.columns}))
