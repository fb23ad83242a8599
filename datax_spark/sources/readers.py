"""Source readers: the Reader-plugin surface re-expressed as Spark scans.

The reference's Reader contract is ``Job.split(adviceNumber) →
Task.startRead`` (``common/.../spi/Reader.java:46,50``); in Spark the
split step IS the data source's partitioning, so each reader here is a
thin declarative mapping from DataX reader-plugin config onto
``spark.read`` options — Catalyst owns predicate pushdown and column
pruning (the reference splices ``where``/``column`` into its SELECT by
hand, ``SingleTableSplitUtil.java:84-142``).

Readers covered (SURVEY.md §2.1):
  txtfilereader/hdfsreader(TEXT,CSV)  → csv / text
  hdfsreader(ORC)                     → orc
  parquet-based lake scans            → parquet
  restfulapireader-style JSON         → json
  streamreader (synthetic)            → fixtures.changelog / range
  mysqlreader & rdbms family          → jdbc (split semantics below);
                                        host-configured mysql/oceanbase/
                                        drds/tddl → native wire client
                                        (sources/mysql.py); postgresql/
                                        adbpg/gpdb → protocol v3
                                        (sources/postgres.py); clickhouse
                                        → HTTP (sources/clickhouse.py)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def task_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A reader's split list as a DataFrame whose partition i holds
    exactly ``rows[i]``, so every split runs in a task of its own.
    ``repartition(n, col)`` hashes the column and puts several splits
    in one task (run one after another); here the rows travel as a
    typed Arrow ``LocalRelation`` and ``repartitionById`` on each row's
    position places them. ``schema`` is a DDL string."""
    from datax_spark.lake.table import rows_to_arrow

    struct = T.StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], struct)
    pos = T.StructType([T.StructField("__task", T.IntegerType(), False), *struct.fields])
    tbl = rows_to_arrow([(i, *r) for i, r in enumerate(rows)], pos)
    return (
        spark.createDataFrame(tbl, pos)
        .repartitionById(len(rows), "__task")
        .drop("__task")
    )


def jdbc_split_predicates(
    split_pk: str,
    lower: int,
    upper: int,
    num_splits: int,
    include_null_bucket: bool = True,
) -> list[str]:
    """Even BigInteger-style range predicates + a NULL-pk slice.

    Mirrors the reference's split strategy exactly
    (``SingleTableSplitUtil.java:33-127``: even min/max ranges, left-
    closed right-open, last range closed, plus the dedicated
    ``IS NULL`` bucket at :111-124 so NULL-pk rows are never lost).
    Feed the result to ``spark.read.jdbc(url, table, predicates=...)``
    — Spark runs one partition per predicate.
    """
    if num_splits <= 0:
        raise ValueError("num_splits must be positive")
    span = upper - lower + 1
    step = max(span // num_splits, 1)
    preds = []
    lo = lower
    for i in range(num_splits):
        hi = upper if i == num_splits - 1 else min(lo + step - 1, upper)
        if lo > upper:
            break
        if i == num_splits - 1:
            preds.append(f"{split_pk} >= {lo} AND {split_pk} <= {upper}")
        else:
            preds.append(f"{split_pk} >= {lo} AND {split_pk} < {hi + 1}")
        lo = hi + 1
    if include_null_bucket:
        preds.append(f"{split_pk} IS NULL")
    return preds


def bigint_split_points(left: int, right: int, num_splits: int) -> list[int]:
    """Even integer split points with remainder spreading.

    Mirrors ``RangeSplitUtil.java:43-93`` (``doBigIntegerSplit``): the
    gap's remainder is distributed one unit at a time over the first
    ``remainder`` slices, so slice widths differ by at most 1. When the
    gap is smaller than the requested slice count the effective count
    collapses to the remainder (same as the reference's ``step == 0``
    branch). Returns ``n + 1`` boundary points, endpoints included.
    """
    if num_splits < 1:
        raise ValueError("num_splits must be >= 1")
    if left > right:
        left, right = right, left
    if left == right:
        return [left, right]
    gap = right - left
    step, remainder = divmod(gap, num_splits)
    if step == 0:
        num_splits = remainder
    points = [left + i * step + min(i, remainder) for i in range(num_splits)]
    points.append(right)
    return points


_ASCII_RADIX = 128


def ascii_to_bignum(s: str) -> int:
    """ASCII string -> base-128 big integer (``RangeSplitUtil.java:105-128``)."""
    value = 0
    for ch in s:
        code = ord(ch)
        if code >= _ASCII_RADIX:
            raise ValueError(f"string split supports ASCII only, got {s!r}")
        value = value * _ASCII_RADIX + code
    return value


def bignum_to_ascii(value: int) -> str:
    """Base-128 big integer -> ASCII string (``RangeSplitUtil.java:133-171``).

    Leading zero digits are unrepresentable (the reference keeps the
    original endpoints verbatim for exactly this reason).
    """
    if value == 0:
        return "\x00"
    digits: list[str] = []
    while value > 0:
        value, d = divmod(value, _ASCII_RADIX)
        digits.append(chr(d))
    return "".join(reversed(digits))


def ascii_string_split_points(left: str, right: str, num_splits: int) -> list[str]:
    """Split a string PK range into even base-128 points.

    The reference's ``doAsciiStringSplit`` (``RangeSplitUtil.java:14-30``):
    endpoints stay the caller's original strings; interior points are
    the bignum midpoints rendered back to ASCII. Interior points are
    lexicographically ordered whenever the endpoints share a length
    (the usual PK shape), because equal-length ASCII strings compare
    identically as text and as base-128 numbers.
    """
    pts = bigint_split_points(
        ascii_to_bignum(left), ascii_to_bignum(right), num_splits
    )
    return [left, *[bignum_to_ascii(p) for p in pts[1:-1]], right]


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def string_split_predicates(
    split_pk: str,
    left: str,
    right: str,
    num_splits: int,
    include_null_bucket: bool = True,
) -> list[str]:
    """String-PK range predicates for ``spark.read.jdbc(predicates=...)``.

    Interior ranges follow the reference's wrapping
    (``RdbmsRangeSplitWrap.java:45-72``: left-closed / right-open), plus
    the dedicated ``IS NULL`` slice (``SingleTableSplitUtil.java:113-
    127``) so NULL-pk rows are never lost.

    Deviations from the reference, both loss-proofing:

    * The FIRST and LAST slices are UNBOUNDED (``pk < p1`` /
      ``pk >= p_last``); the configured bounds only shape the interior
      points. The reference derives its bounds from a live MIN/MAX
      query (``SingleTableSplitUtil.getPkRange``) so out-of-range keys
      cannot exist there; here stale or hand-narrowed bounds must not
      silently drop rows — the numeric path already behaves this way
      (Spark's ``partitionColumn`` first/last partitions are
      unbounded), and so does ``quantile_split_predicates``.
    * Interior points containing control characters (NUL is rejected
      outright by e.g. PostgreSQL literals), or that break the
      lexicographic ordering of the chain (possible when the endpoints
      differ in length, since base-128 order and text order then
      disagree), are DROPPED — adjacent slices merge, trading slice
      balance for predicates that always partition the key space and
      parse on any database.
    """
    raw = ascii_string_split_points(left, right, num_splits)
    interior: list[str] = []
    for s in raw[1:-1]:
        if all(" " <= ch <= "\x7e" for ch in s) and (not interior or interior[-1] < s):
            interior.append(s)
    preds = []
    if not interior:
        preds.append(f"{split_pk} IS NOT NULL")
    else:
        preds.append(f"{split_pk} < {_sql_quote(interior[0])}")
        for lo, hi in zip(interior, interior[1:]):
            preds.append(
                f"{split_pk} >= {_sql_quote(lo)} AND {split_pk} < {_sql_quote(hi)}"
            )
        preds.append(f"{split_pk} >= {_sql_quote(interior[-1])}")
    if include_null_bucket:
        preds.append(f"{split_pk} IS NULL")
    return preds


def quantile_split_points(
    df: DataFrame,
    split_pk: str,
    num_splits: int,
    relative_error: float = 0.001,
    exact_max_rows: int = 10_000_000,
) -> list:
    """Equal-height split points from the OBSERVED key distribution —
    the reference's Oracle SAMPLE-based split estimation
    (``SingleTableSplitUtil.java:298-393``: sample the PK, split on
    sample quantiles so skewed keys still yield balanced slices,
    where the even min/max arithmetic split would put most rows in
    one slice).

    ``relative_error > 0`` (default): Greenwald-Khanna sketch via
    ``approxQuantile`` — single pass, no global sort, the scale path.
    ``relative_error == 0``: exact rank points via a window over the
    single PK column (value at rank ``i*n//num_splits``) — used by the
    oracle-checked contract query because the sketch's outputs are
    implementation-defined. The global window is a SINGLE-PARTITION
    sort, so this mode is guarded by ``exact_max_rows`` (same fail-loud
    pattern as the O(n²) dedup baselines): past the ceiling it raises
    instead of silently serializing a big table onto one core — use the
    default GK-sketch mode there. Both return at most ``num_splits - 1``
    interior points (duplicates collapsed under heavy skew).
    """
    if num_splits < 2:
        return []
    if relative_error == 0:
        from pyspark.sql.window import Window

        n = df.count()
        if n > exact_max_rows:
            raise ValueError(
                f"quantile_split_points(relative_error=0) is a global "
                f"single-partition sort; {n} rows exceed exact_max_rows="
                f"{exact_max_rows}. Use relative_error > 0 (GK sketch) "
                f"at this scale."
            )
        ranks = sorted({i * n // num_splits for i in range(1, num_splits)} - {0})
        w = Window.orderBy(split_pk)
        rows = (
            df.select(split_pk)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn").isin(ranks))
            .collect()
        )  # bounded: < num_splits rows
        # collect() after a filter does NOT guarantee window order —
        # sort explicitly; quantile_split_predicates assumes an
        # ascending chain (overlapping/lossy ranges otherwise)
        pts = sorted(r[0] for r in rows)
    else:
        qs = [i / num_splits for i in range(1, num_splits)]
        pts = df.stat.approxQuantile(split_pk, qs, relative_error)
    out = []
    for p in pts:
        if not out or p != out[-1]:
            out.append(p)
    return out


def quantile_split_predicates(
    df: DataFrame,
    split_pk: str,
    num_splits: int,
    relative_error: float = 0.001,
    include_null_bucket: bool = True,
) -> list[str]:
    """Range predicates from equal-height points: first slice open on
    the left, last open on the right (covers the full domain without
    knowing min/max), interior slices left-closed right-open, plus the
    NULL bucket."""
    pts = quantile_split_points(df, split_pk, num_splits, relative_error)
    preds = []
    if not pts:
        preds.append(f"{split_pk} IS NOT NULL")
    else:
        preds.append(f"{split_pk} < {pts[0]}")
        for lo, hi in zip(pts, pts[1:]):
            preds.append(f"{split_pk} >= {lo} AND {split_pk} < {hi}")
        preds.append(f"{split_pk} >= {pts[-1]}")
    if include_null_bucket:
        preds.append(f"{split_pk} IS NULL")
    return preds


import re as _re

_TABLE_PATTERN = _re.compile(r"(\w+\.)?(\w+)\[(\d+)-(\d+)\](.*)")


def expand_table_conf(tables) -> list[str]:
    """``table[0-99]``-style shard expansion (``TableExpandUtil.java:
    29-81``): comma lists, optional ``schema.`` prefix, optional suffix,
    zero-padding preserved when the start bound is written with leading
    zeros, swapped bounds reordered. Plain names pass through.
    """
    items: list[str] = []
    for entry in tables if isinstance(tables, list) else [tables]:
        for part in str(entry).split(","):
            part = part.strip()
            m = _TABLE_PATTERN.fullmatch(part)
            if not m:
                items.append(part)
                continue
            schema, base, start, end, suffix = (
                (m.group(1) or "").strip(), m.group(2).strip(),
                m.group(3).strip(), m.group(4).strip(), m.group(5).strip(),
            )
            lo, hi = int(start), int(end)
            if lo > hi:
                lo, hi = hi, lo
            pad = len(start) if start.startswith("0") else 0
            items.extend(
                f"{schema}{base}{k:0{pad}d}{suffix}" for k in range(lo, hi + 1)
            )
    return items


def plan_table_splits(
    n_tables: int,
    advice_number: int,
    has_split_pk: bool,
    split_factor: int = 5,
) -> int:
    """Per-table split count (``ReaderSplitUtil.java:35-77``): the
    channel budget divides evenly over the shards (ceil), and a
    single-table job with a splitPk multiplies by ``splitFactor``
    (default 5) so one table still fans out wide enough to feed every
    channel without producing long-tail small files."""
    each = -(-advice_number // max(n_tables, 1))  # ceil
    if has_split_pk and each > 1 and n_tables == 1:
        each *= split_factor
    return each


def _read_jdbc(spark: SparkSession, p: dict) -> DataFrame:
    """jdbcreader: shard expansion → per-table range split → union.

    Multi-shard reads are the reference's highest-throughput path
    (``ReaderSplitUtil.java:35-101``): every expanded shard scans in
    parallel with its own splitPk ranges, and the shard frames union
    (Spark's union of jdbc scans = DataX's task-per-shard schedule,
    with no extra shuffle — each partition stays one JDBC cursor).
    """
    import functools

    if p.get("querySql"):
        tables = [f"({p['querySql']}) t"]
    else:
        tables = expand_table_conf(p["table"])
    n_channels = int(p.get("numPartitions", 8))
    per_table = plan_table_splits(
        len(tables), n_channels, "splitPk" in p,
        int(p.get("splitFactor", 5)),
    ) if "splitPk" in p else n_channels

    def _pk_type() -> str:
        """Split-mode dispatch. The reference decides numeric vs string
        split from column TYPE metadata (``SingleTableSplitUtil.java:
        63-82`` PK_TYPE_LONG / PK_TYPE_STRING); configure
        ``splitPkType`` ('long' | 'string' | 'date'/'timestamp') for
        the same explicitness. The fallback heuristic classifies the
        bound's shape: all-digits -> long, ISO date/timestamp ->
        temporal (Spark's native partitionColumn handles both
        numerics and temporals), anything else -> ASCII string split.
        Digit-shaped STRING keys (zip codes) need the explicit config.
        """
        t = str(p.get("splitPkType", "")).lower()
        if t in ("long", "int", "integer", "bigint", "numeric"):
            return "long"
        if t in ("string", "varchar", "char"):
            return "string"
        if t in ("date", "timestamp", "datetime"):
            return "temporal"
        lb = str(p.get("lowerBound", ""))
        if lb.lstrip("-").isdigit():
            return "long"
        if _re.fullmatch(r"\d{4}-\d{2}-\d{2}([ T].*)?", lb):
            return "temporal"
        return "string"

    def one(dbtable: str) -> DataFrame:
        if (
            "splitPk" in p
            and "lowerBound" in p
            and _pk_type() == "string"
        ):
            # string PK: ASCII-radix predicate split, one partition per
            # predicate incl. the NULL bucket (SingleTableSplitUtil.java:69-75)
            props = {k: str(p[k]) for k in ("user", "password", "driver") if k in p}
            return spark.read.jdbc(
                url=p["jdbcUrl"],
                table=dbtable,
                predicates=string_split_predicates(
                    p["splitPk"], p["lowerBound"], p["upperBound"], per_table
                ),
                properties=props,
            )
        reader = spark.read.format("jdbc").option("url", p["jdbcUrl"]).option(
            "dbtable", dbtable
        )
        for k in ("user", "password", "driver"):
            if k in p:
                reader = reader.option(k, p[k])
        if "splitPk" in p and "lowerBound" in p:
            # numeric range split; the NULL bucket comes via predicates mode
            reader = (
                reader.option("partitionColumn", p["splitPk"])
                .option("lowerBound", p["lowerBound"])
                .option("upperBound", p["upperBound"])
                .option("numPartitions", per_table)
            )
        return reader.load()

    return functools.reduce(DataFrame.unionByName, [one(t) for t in tables])


def kafka_value_projection(raw: DataFrame, columns: list[str]) -> DataFrame:
    """Project a kafka-shaped frame's ``value`` payload onto the
    configured column list — the reference's per-record JSON decode
    (``KafkaReader.java:184-216``: parse value, emit the ``column``
    fields in order, null for absent keys) as one ``from_json``
    projection. Works identically on the batch/stream kafka source and
    on any frame carrying a ``value`` column (binary or string), which
    is how it is tested without a broker: a file-backed ``readStream``
    supplies the same contract.
    """
    schema = T.StructType([T.StructField(c, T.StringType()) for c in columns])
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("j")
    ).select(*[F.col(f"j.{c}").alias(c) for c in columns])


def _json_loop(obj, key: str, found=None):
    """Depth-first search for ``key`` anywhere in a parsed JSON tree,
    case-insensitively; the LAST match in traversal order wins —
    parity with the reference's recursive extractor
    (``JsonLoop.java:17-36``, which overwrites a static on every
    match while recursing in entry order)."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            if k.lower() == key.lower():
                found = v
            else:
                inner = _json_loop(v, key, None)
                if inner is not None:
                    found = inner
    elif isinstance(obj, list):
        for v in obj:
            inner = _json_loop(v, key, None)
            if inner is not None:
                found = inner
    return found


def restful_records(text: str, data_path: str | None) -> list[dict]:
    """Turn a REST response body into a list of record dicts
    (``RestFulApiReader.java:199-252`` semantics):

    * a top-level JSON array is the record list itself (dataPath
      ignored);
    * a JSON object with ``data_path`` set: the value at the path's
      LAST dot-segment, located by recursive search (``JsonLoop``), is
      the payload — a list of objects, or a single object → one
      record. The reference only applies the path when it contains a
      dot (a single-segment path silently falls through to treating
      the whole envelope as the record — a quirk, not a contract);
      here a provided path is always applied.
    * a JSON object with no ``data_path``: one record from the object
      itself.
    """
    import json as _json

    doc = _json.loads(text)
    if isinstance(doc, list):
        return [r for r in doc if isinstance(r, dict)]
    if not isinstance(doc, dict):
        raise ValueError(f"REST response is not a JSON object/array: {type(doc)}")
    if data_path:
        last = data_path.split(".")[-1]
        payload = _json_loop(doc, last)
        if payload is None:
            raise ValueError(f"dataPath {data_path!r} not found in response")
        if isinstance(payload, list):
            return [r for r in payload if isinstance(r, dict)]
        if isinstance(payload, dict):
            return [payload]
        raise ValueError(f"dataPath {data_path!r} is a scalar, not records")
    return [doc]


def restful_fetch(
    url: str,
    method: str = "get",
    header_infos: dict | None = None,
    query_param: dict | None = None,
    body_param=None,
    timeout: float = 20.0,
) -> str:
    """Driver-side HTTP fetch for ``restfulapireader``
    (``HttpServiceUtil.java:40-140`` POST / ``:143-185`` GET): GET
    appends ``queryParam`` to the URL, POST sends ``bodyParam`` as a
    JSON body; ``headerInfos`` ride as request headers on both. Only
    2xx responses return; anything else raises. Like the reference
    (``RestFulApiReader.Job.split`` returns a single config), this is
    one channel — REST payloads are dimension-sized; land bulk data
    on files/JDBC instead."""
    import json as _json
    import urllib.parse
    import urllib.request

    method = (method or "get").lower()
    if method not in ("get", "post"):
        raise ValueError(f"restful method must be get/post, got {method!r}")
    if query_param and method == "get":
        sep = "&" if "?" in url else "?"
        url = url + sep + urllib.parse.urlencode(
            {k: str(v) for k, v in query_param.items()}
        )
    data = None
    headers = {"Content-Type": "application/json"}
    headers.update({k: str(v) for k, v in (header_infos or {}).items()})
    if method == "post":
        body = body_param if isinstance(body_param, str) else _json.dumps(body_param or {})
        data = body.encode("utf-8")
    req = urllib.request.Request(url, data=data, headers=headers,
                                 method=method.upper())
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        if not (200 <= resp.status < 300):
            raise IOError(f"REST fetch failed: HTTP {resp.status} for {url}")
        return resp.read().decode("utf-8")


def restful_frame(spark: SparkSession, records: list[dict], columns: list[str]) -> DataFrame:
    """Project REST records onto the configured column list in order
    (``RestFulApiReader.java:274-305``: absent keys → NULL; value
    types map native JSON bool/int/float/str)."""
    import pandas as pd

    pdf = pd.DataFrame(
        [{c: r.get(c) for c in columns} for r in records], columns=columns
    )
    return spark.createDataFrame(pdf)


def read_source(spark: SparkSession, name: str, parameter: dict) -> DataFrame:
    """Dispatch a reader-plugin config to a Spark scan."""
    p = dict(parameter)
    path = p.get("path")
    columns = p.get("column")
    where = p.get("where")

    if name in ("parquetreader", "lakereader"):
        df = spark.read.parquet(*(path if isinstance(path, list) else [path]))
    elif name in ("txtfilereader", "hdfsreader", "csvreader"):
        ftype = str(p.get("fileType", "")).lower()
        if ftype == "orc":
            return read_source(spark, "orcreader", p)
        if ftype == "parquet":
            return read_source(spark, "parquetreader", p)
        if ftype == "rc":
            raise NotImplementedError(
                "fileType=rc: RCFile has no Spark 4 reader; convert to ORC"
            )
        if ftype == "seq":
            # DFSUtil.java:214-242: SequenceFile values are text lines
            # parsed by the same delimiter engine. sequenceFile() keeps
            # one split per block, so parallelism matches the HDFS scan.
            paths = ",".join(path if isinstance(path, list) else [path])
            lines = (
                spark.sparkContext.sequenceFile(paths)
                .values()
                .map(lambda v: v.decode("utf-8") if isinstance(v, bytes) else str(v))
            )
            df = (
                spark.read.option("sep", p.get("fieldDelimiter", ","))
                .option("nullValue", p.get("nullFormat", "\\N"))
                .csv(lines)
            )
            if where:
                df = df.filter(where)
            if columns:
                df = df.select(*columns)
            return df
        # compress (UnstructuredStorageReaderUtil.java:232-306): gzip/
        # bzip2/deflate/lz4 decompress transparently off the file
        # extension in Spark's text line reader; zip/lzo archives have
        # no Hadoop codec here, so fail loudly instead of reading
        # garbage bytes. NOTE at scale: gzip is NOT splittable — one
        # whole .gz file per task — so shard source files if they are
        # large; bzip2 is splittable.
        compress = str(p.get("compress", "")).lower()
        if compress == "zip":
            # DFSUtil's ZipCycleInputStream analog (DFSUtil.java:
            # 244-290): every member of each .zip archive streams its
            # text lines through the same delimiter engine. NOT
            # splittable — one whole archive per task (binaryFile
            # scan) — so this is the legacy long-tail path, not the
            # scale path; skipHeader drops the first line PER member,
            # matching the reference's per-file semantics.
            paths = path if isinstance(path, list) else [path]
            bin_df = spark.read.format("binaryFile").load(paths)
            enc = p.get("encoding", "utf-8")
            skip_header = bool(p.get("skipHeader", False))

            def unzip(batches):
                import io
                import zipfile

                import pandas as pd

                for pdf in batches:
                    for row in pdf.itertuples(index=False):
                        with zipfile.ZipFile(io.BytesIO(row.content)) as zf:
                            for m in zf.namelist():
                                if m.endswith("/"):
                                    continue
                                lines = zf.read(m).decode(enc).splitlines()
                                if skip_header:
                                    lines = lines[1:]
                                if lines:
                                    yield pd.DataFrame({"value": lines})

            lines_df = bin_df.select("path", "content").mapInPandas(
                unzip, "value string"
            )
            df = (
                spark.read.option("sep", p.get("fieldDelimiter", ","))
                .option("nullValue", p.get("nullFormat", "\\N"))
                .csv(lines_df.rdd.map(lambda r: r.value))
            )
            if where:
                df = df.filter(where)
            if columns:
                df = df.select(*columns)
            return df
        if compress == "lzo":
            raise NotImplementedError(
                "compress=lzo: no LZO codec available; repack as "
                "gzip/bzip2 (both auto-detected by extension)"
            )
        if compress in ("zstd", "lz4"):
            # Hadoop's zstd/lz4 codecs need the native-hadoop library
            # (absent on this stack — NativeCodeLoader falls back to
            # builtin-java, which has neither), and Hadoop's lz4
            # container isn't the standard .lz4 FRAME format anyway.
            # Decode standard frames with the repo's own RFC 8878 /
            # LZ4-frame decoders instead: one whole file per task
            # (binaryFile scan — like gzip, NOT splittable; shard
            # large sources), lines through the same delimiter engine.
            paths = path if isinstance(path, list) else [path]
            bin_df = spark.read.format("binaryFile").load(paths)
            enc = p.get("encoding", "utf-8")
            skip_header = bool(p.get("skipHeader", False))
            use_zstd = compress == "zstd"

            def expand(batches):
                import pandas as pd

                from datax_spark.sources.kafka import lz4_frame_decompress
                from datax_spark.sources.zstd import decompress as zstd_dec

                dec = zstd_dec if use_zstd else (
                    lambda b: bytes(lz4_frame_decompress(b)))
                for pdf in batches:
                    for row in pdf.itertuples(index=False):
                        lines = dec(bytes(row.content)).decode(
                            enc).splitlines()
                        if skip_header:
                            lines = lines[1:]
                        if lines:
                            yield pd.DataFrame({"value": lines})

            lines_df = bin_df.select("path", "content").mapInPandas(
                expand, "value string"
            )
            df = (
                spark.read.option("sep", p.get("fieldDelimiter", ","))
                .option("nullValue", p.get("nullFormat", "\\N"))
                .csv(lines_df.rdd.map(lambda r: r.value))
            )
            if where:
                df = df.filter(where)
            if columns:
                df = df.select(*columns)
            return df
        if compress not in ("", "none", "gzip", "bzip2", "deflate", "auto"):
            raise ValueError(f"unknown compress option: {compress}")
        df = (
            spark.read.option("sep", p.get("fieldDelimiter", ","))
            .option("header", str(p.get("skipHeader", False)).lower())
            .option("encoding", p.get("encoding", "utf-8"))
            .option("nullValue", p.get("nullFormat", "\\N"))
            # NOTE: pass the list as ONE argument — DataFrameReader.csv's
            # second positional is `schema`, so *splat with 2+ paths
            # would parse path[1] as a DDL schema string.
            .csv(path if isinstance(path, list) else [path])
        )
    elif name == "orcreader":
        df = spark.read.orc(*(path if isinstance(path, list) else [path]))
    elif name in ("tsdbreader", "opentsdbreader"):
        from datax_spark.sources.tsdb import tsdb_read

        return tsdb_read(spark, p)
    elif name in ("hbasereader", "hbase11xreader", "hbase20xreader"):
        from datax_spark.sources.hbase import hbase_read

        return hbase_read(spark, p)
    elif name == "mongodbreader":
        from datax_spark.sources.mongo import mongo_read

        return mongo_read(spark, p)
    elif name == "cassandrareader":
        from datax_spark.sources.cassandra import cassandra_read

        return cassandra_read(spark, p)
    elif name == "gdbreader":
        from datax_spark.sources.gdb import gdb_read

        return gdb_read(spark, p)
    elif name == "odpsreader":
        from datax_spark.sources.odps import odps_read

        return odps_read(spark, p)
    elif name == "tdenginereader":
        from datax_spark.sources.tdengine import tdengine_read

        return tdengine_read(spark, p)
    elif name == "ftpreader":
        # FtpReader.java: resolve path specs against the remote server,
        # stage the matched files locally, then run the same
        # unstructured-text scan as txtfilereader over the stage.
        from datax_spark.sources.ftp import ftp_stage_read

        return read_source(spark, "txtfilereader", {**p, "path": ftp_stage_read(p)})
    elif name == "ossreader":
        # OssReader.java: wildcard object resolution via marker-paged
        # listing, staged download, same unstructured scan engine.
        from datax_spark.sources.oss import oss_stage_read

        return read_source(spark, "txtfilereader", {**p, "path": oss_stage_read(p)})
    elif name == "restfulapireader" and p.get("url"):
        text = restful_fetch(
            p["url"],
            method=p.get("method", "get"),
            header_infos=p.get("headerInfos"),
            query_param=p.get("queryParam"),
            body_param=p.get("bodyParam"),
        )
        df = restful_frame(
            spark, restful_records(text, p.get("dataPath")), list(columns or [])
        )
        columns = None  # already projected in configured order
    elif name in ("jsonreader", "restfulapireader"):
        # list passed whole: json's second positional is `schema` too
        df = spark.read.json(path if isinstance(path, list) else [path])
    elif name in ("mysqlreader", "oceanbasev10reader", "drdsreader",
                  "tddlreader") and p.get("host"):
        from datax_spark.sources.mysql import mysql_read

        return mysql_read(spark, p)
    elif name in ("postgresqlreader", "adbpgreader", "gpdbreader") and p.get("host"):
        from datax_spark.sources.postgres import pg_read

        return pg_read(spark, p)
    elif name == "clickhousereader" and (p.get("endpoint") or p.get("host")):
        from datax_spark.sources.clickhouse import clickhouse_read

        return clickhouse_read(spark, p)
    elif name == "jdbcreader":
        df = _read_jdbc(spark, p)
    elif name in ("hivereader", "sqlreader"):
        # hivereader runs user HiveQL via HiveServer2 JDBC, one task per
        # SQL whose result sets concatenate (HiveReader.java:58-74); on
        # Spark the warehouse is native: run every statement against the
        # session catalog and union the results.
        import functools

        sqls = [p["sql"]] if isinstance(p.get("sql"), str) else list(p["sql"])
        df = functools.reduce(
            DataFrame.unionByName, [spark.sql(s) for s in sqls]
        )
    elif name == "kafkareader":
        # KafkaReader.java:77-85 splits one task per partition. Two
        # transports: "wire" (default) speaks the Kafka binary
        # protocol directly — Metadata/ListOffsets plan one slice per
        # partition, executors Fetch their [earliest, latest) range
        # inside mapInPandas (tests/test_kafka.py vs an in-process
        # fake broker) — while "spark" uses the spark-sql-kafka
        # connector (same projection contract, file-backed readStream
        # test in tests/test_streaming.py) for clusters that ship it.
        if p.get("transport", "wire") == "wire":
            from datax_spark.sources.kafka import kafka_read

            return kafka_read(spark, p)
        raw = (
            spark.read.format("kafka")
            .option("kafka.bootstrap.servers", p["bootstrapServers"])
            .option("subscribe", p["topic"])
            .option("startingOffsets", p.get("startingOffsets", "earliest"))
            .load()
        )
        df = kafka_value_projection(raw, p.get("column") or [])
        columns = None
    elif name == "streamreader":
        # synthetic generator (StreamReader.java:94-166 analog):
        # column specs {"value": const} or {"random": [lo, hi]} per type
        n = int(p.get("sliceRecordCount", 1000)) * int(p.get("slices", 1))
        df = spark.range(n).withColumnRenamed("id", "__i")
        for i, spec in enumerate(p.get("column", [])):
            typ = spec.get("type", "string")
            colname = spec.get("name", f"col{i}")
            if "value" in spec:
                df = df.withColumn(colname, F.lit(spec["value"]).cast(typ))
            else:
                lo, hi = spec.get("random", [0, 100])
                r = F.abs(F.xxhash64("__i", F.lit(i))) % (int(hi) - int(lo) + 1) + int(lo)
                if typ == "string":
                    df = df.withColumn(colname, F.concat(F.lit("s"), r.cast("string")))
                else:
                    df = df.withColumn(colname, r.cast(typ))
        df = df.drop("__i")
        columns = None  # streamreader's `column` is generator specs, not a projection
    else:
        raise ValueError(f"unknown reader plugin: {name}")

    if where:
        df = df.filter(where)  # pushed down by Catalyst
    if columns:
        if isinstance(columns[0], dict):
            # reference unstructured column spec ({index,type} picks a
            # positional CSV field and casts it; {type,value} is a
            # constant — UnstructuredStorageReaderUtil.transportOneRecord)
            exprs = []
            for i, c in enumerate(columns):
                ctype = {"long": "long", "double": "double", "string": "string",
                         "boolean": "boolean", "bool": "boolean",
                         "date": "timestamp", "bytes": "binary"}.get(
                    str(c.get("type", "string")).lower(), "string"
                )
                if c.get("index") is not None:
                    src = df.columns[int(c["index"])]
                    exprs.append(F.col(src).cast(ctype).alias(src))
                elif "value" in c:
                    exprs.append(F.lit(c["value"]).cast(ctype).alias(f"const_{i}"))
                else:
                    raise ValueError(
                        "unstructured column spec needs index or value "
                        "(UnstructuredStorageReaderUtil parity)"
                    )
            df = df.select(*exprs)
        else:
            df = df.select(*columns)  # column pruning reaches the scan
    return df


def cast_with_quarantine(
    df: DataFrame, target: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Cast columns to a target schema, routing rows with failed casts
    to a dirty-data frame instead of erroring — the TaskPluginCollector
    side channel (``dataxPluginDev.md:426-440``;
    ``StdoutPluginCollector.java``) as a DataFrame split.

    A cast fails when try_cast yields NULL for a non-NULL input.
    Returns (good, dirty); ``dirty`` keeps original values.
    """
    fail = F.lit(False)
    for f in target.fields:
        c = F.col(f.name)
        fail = fail | (c.isNotNull() & c.try_cast(f.dataType).isNull())
    dirty = df.filter(fail)
    good = df.filter(~fail).select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields]
    )
    return good, dirty


def check_error_limit(
    n_dirty: int, n_total: int, record_limit: int | None, pct_limit: float | None
) -> None:
    """Job-level dirty-data limits (``ErrorRecordChecker.java:18-82``):
    configuring the record limit DISABLES the percentage limit (the
    reference's constructor nulls percentageLimit when recordLimit is
    set), and the percentage must lie in [0.0, 1.0]."""
    if pct_limit is not None and not (0.0 <= pct_limit <= 1.0):
        raise ValueError(f"percentage limit must be within [0.0, 1.0], got {pct_limit}")
    if record_limit is not None:
        if n_dirty > record_limit:
            raise RuntimeError(
                f"dirty-data record limit exceeded: {n_dirty} > {record_limit}"
            )
        return
    if pct_limit is not None and n_total > 0 and (n_dirty / n_total) > pct_limit:
        raise RuntimeError(
            f"dirty-data percentage limit exceeded: {n_dirty / n_total:.4f} > {pct_limit}"
        )
