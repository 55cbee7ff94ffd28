"""Parse operators (stanza parser semantics, SURVEY.md section 2.2).

Shared contract (reference pkg/stanza/operator/helper/parser.go):
read ``parse_from`` (default ``body``), write parsed fields to
``parse_to`` (here: ``None`` = promote to top-level columns — the
columnar fast path — or ``"attributes"`` to upsert into the map),
optional ``if`` guard, ``on_error: send|drop`` handling.

Every parser compiles to built-in Column expressions (regexp_extract,
from_json, from_csv, str_to_map, to_timestamp, ...) so parse runs
inside whole-stage codegen; there is no Python in the row path.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..envelope import try_element_at

from ..envelope import field_get
from .base import apply_on_error


def grouped_kv_scan(sorted_col: "Column", accumulate: bool) -> "Column":
    """Scan a ``struct(k, i, v)`` array SORTED by (k, i): returns
    ``struct(ks, vs)`` where repeated keys either ACCUMULATE their
    values in first-seen order (``vs: array<array<string>>`` —
    url.Values semantics) or keep the LAST value (``vs: array<string>``
    — Go map overwrite). ONE two-arg lambda; the index field makes the
    struct sort stable (HOF house rule: no nested lambdas). Shared by
    UriParser.query_params and KeyValueParser reference mode."""
    val_t = "array<array<string>>" if accumulate else "array<string>"
    init = F.struct(
        F.array().cast("array<string>").alias("ks"),
        F.array().cast(val_t).alias("vs"),
    )

    def step(acc, x):
        k, v = x.getField("k"), x.getField("v")
        ks, vs = acc.getField("ks"), acc.getField("vs")
        same = (F.size(ks) > 0) & (F.get(ks, F.size(ks) - 1) == k)
        if accumulate:
            grown = F.concat(
                F.coalesce(
                    F.get(vs, F.size(vs) - 1), F.array().cast("array<string>")
                ),
                F.array(v),
            )
            replace_tail, append = F.array(grown), F.array(F.array(v))
        else:
            replace_tail = append = F.array(v)
        new_ks = F.when(same, ks).otherwise(F.concat(ks, F.array(k)))
        new_vs = F.when(
            same, F.concat(F.slice(vs, 1, F.size(vs) - 1), replace_tail)
        ).otherwise(F.concat(vs, append))
        return F.struct(new_ks.alias("ks"), new_vs.alias("vs"))

    return F.aggregate(sorted_col, init, step)



def map_last_wins(ks: "Column", vs: "Column") -> "Column":
    """``map_from_arrays`` with duplicate keys resolved LAST-wins (Go
    map overwrite) — safe under the default
    ``spark.sql.mapKeyDedupPolicy=EXCEPTION``, where a duplicate key
    would otherwise throw DUPLICATED_MAP_KEY and kill the whole batch.
    Reuses the sorted-struct scan (:func:`grouped_kv_scan`,
    accumulate=False) so keys are unique before the map is built."""
    idx = F.sequence(F.lit(0), F.size(ks) - 1)
    entries = F.transform(
        idx,
        lambda i: F.struct(
            F.get(ks, i).alias("k"), i.alias("i"), F.get(vs, i).alias("v")
        ),
    )
    agg = grouped_kv_scan(F.array_sort(entries), accumulate=False)
    return F.when(
        F.size(ks) > 0,
        F.map_from_arrays(agg.getField("ks"), agg.getField("vs")),
    ).otherwise(F.from_json(F.lit("{}"), "map<string,string>"))


def _write_groups(
    df: DataFrame,
    values: dict[str, Column],
    parse_to: str | None,
    ok: Column | None = None,
) -> DataFrame:
    if parse_to is None:
        return df.withColumns(values)
    if parse_to in ("attributes", "resource"):
        existing = F.coalesce(
            F.col(parse_to), F.from_json(F.lit("{}"), "map<string,string>")
        )
        keys = list(values)
        cleaned = F.map_filter(existing, lambda k, _: ~k.isin(keys))
        entries = F.create_map(
            *[x for k in keys for x in (F.lit(k), values[k].cast("string"))]
        )
        # keep map-typed target null-safe: only add entries whose value is set
        merged = F.map_concat(
            cleaned, F.map_filter(entries, lambda _, v: v.isNotNull())
        )
        if ok is not None:
            # parse FAILURE with on_error='send' forwards the entry
            # UNMODIFIED (stanza helper/transformer.go): without this
            # guard the map_filter above silently deletes pre-existing
            # keys that collide with the group names
            merged = F.when(ok, merged).otherwise(F.col(parse_to))
        return df.withColumn(parse_to, merged)
    raise ValueError(f"unsupported parse_to: {parse_to}")


@dataclass
class RegexParser:
    """Named-capture regex extraction.

    Reference: pkg/stanza/operator/parser/regex/parser.go:30-63 — match
    ``parse_from`` against the pattern; each named group becomes a key;
    no-match is a parse error (on_error applies). Accepts Python
    ``(?P<name>...)`` or Java ``(?<name>...)`` group syntax.

    Spark plan: one ``rlike`` success flag + one ``regexp_extract`` per
    group. Measured against a single-pass ``regexp_replace``+``split``
    rewrite at 2M rows/local[8]: per-group extracts are ~2.5x faster
    and far lower-variance (the replace path allocates a joined string
    + array per row -> GC pressure), so n+1 cheap anchored regex
    executions on short strings win over 2 allocation-heavy ones.
    """

    pattern: str
    parse_from: str = "body"
    parse_to: str | None = None
    on_error: str = "send"
    if_expr: str | None = None

    def __post_init__(self):
        py_pattern = self.pattern.replace("(?<", "(?P<").replace("(?P<=", "(?<=").replace("(?P<!", "(?<!")
        compiled = _re.compile(py_pattern)
        if not compiled.groupindex:
            raise ValueError("regex pattern must contain named capture groups")
        self._groups = dict(compiled.groupindex)  # name -> index
        # JVM group names disallow '_' etc. — strip names, extract by index
        # (keeps lookbehind (?<= / (?<! intact)
        self._jvm_pattern = _re.sub(r"\(\?P?<(?![=!])[^>]*>", "(", self.pattern)

    def __call__(self, df: DataFrame) -> DataFrame:
        src = field_get(self.parse_from)
        ok = src.rlike(self._jvm_pattern)
        if self.if_expr is not None:
            ok = ok & F.expr(self.if_expr)
        values = {
            name: F.when(ok, F.regexp_extract(src, self._jvm_pattern, idx))
            for name, idx in self._groups.items()
        }
        out = _write_groups(df, values, self.parse_to, ok=ok)
        return apply_on_error(out, src.rlike(self._jvm_pattern), self.on_error, self.if_expr)


@dataclass
class JsonParser:
    """JSON string -> struct/map (parser/json/parser.go:23-40).
    ``schema=None`` parses to MAP<STRING,STRING> (schema-flexible like the
    reference); pass a DDL string for a typed struct (columnar fast path)."""

    parse_from: str = "body"
    parse_to: str | None = None
    schema: str | None = None
    on_error: str = "send"
    if_expr: str | None = None

    def __call__(self, df: DataFrame) -> DataFrame:
        src = field_get(self.parse_from)
        ddl = self.schema or "map<string,string>"
        parsed = F.from_json(src, ddl)
        ok = parsed.isNotNull()
        if self.parse_to is None and self.schema is not None:
            out = df.withColumn("parsed", parsed).select("*", "parsed.*").drop("parsed")
        elif self.parse_to is None:
            out = df.withColumn("parsed", parsed)
        else:
            out = df.withColumn(self.parse_to, parsed)
        return apply_on_error(out, ok, self.on_error, self.if_expr)


@dataclass
class CsvParser:
    """Delimited text -> named fields (parser/csv/parser.go:18-107).

    Option parity with the reference:
    - ``lazy_quotes``: tolerate bare quotes inside unquoted fields
      (maps to the CSV reader's unescaped-quote handling)
    - ``ignore_quotes``: quotes carry no meaning — plain split on the
      delimiter (generateSplitParseFunc)
    - ``header_attribute``: the header arrives PER ROW in an attribute
      (dynamic schema, parser.go:39-51) — fields become a
      map<string,string> column ``parsed`` keyed by that row's header,
      since per-row column sets don't exist in a columnar engine
    """

    header: list[str] | str = field(default_factory=list)
    delimiter: str = ","
    header_delimiter: str | None = None   # delimiter inside the header string
    parse_from: str = "body"
    parse_to: str | None = None
    lazy_quotes: bool = False
    ignore_quotes: bool = False
    header_attribute: str | None = None   # attribute holding the per-row header
    on_error: str = "send"
    if_expr: str | None = None

    def __post_init__(self):
        # config.go:53-82 build validation
        hdelim = self.header_delimiter or self.delimiter
        if self.lazy_quotes and self.ignore_quotes:
            raise ValueError(
                "only one of 'ignore_quotes' or 'lazy_quotes' can be true"
            )
        if len(self.delimiter) != 1:
            raise ValueError(f"invalid 'delimiter': {self.delimiter!r}")
        if len(hdelim) != 1:
            raise ValueError(f"invalid 'header_delimiter': {hdelim!r}")
        if self.header and self.header_attribute:
            raise ValueError(
                "only one header parameter can be set: 'header' or 'header_attribute'"
            )
        if not self.header and not self.header_attribute:
            raise ValueError(
                "missing required field 'header' or 'header_attribute'"
            )
        if isinstance(self.header, str):
            # the reference config takes the header AS a string split by
            # header_delimiter; a one-token header is a build error
            if hdelim not in self.header:
                raise ValueError("missing field delimiter in header")
            self.header = self.header.split(hdelim)

    def _quote_split(self, src: Column) -> Column:
        """Quote-respecting delimiter split: the delimiter separates
        fields only outside double quotes (even-quote-count lookahead —
        RFC 4180 ``\"\"`` escapes preserve parity)."""
        d = _re.escape(self.delimiter)
        return F.split(src, d + '(?=(?:[^"]*"[^"]*")*[^"]*$)')

    def _csv_scan(self, src: Column) -> Column:
        """Go encoding/csv tokenization as one scan over character
        positions: struct(count, bare) — the REAL field count
        (MapCSVHeaders needs it; from_csv pads/truncates silently) and
        whether the row used a LazyQuotes-only form (bare quote in an
        unquoted field = ErrBareQuote, non-doubled quote inside a
        quoted field = ErrQuote, unterminated quote). States: 0 = field
        start, 1 = unquoted, 2 = quoted, 3 = quote-seen-in-quoted
        (doubled -> escaped, delimiter -> field ends, other -> lazy
        literal quote)."""
        n = F.length(src)
        idx = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
        init = F.struct(
            F.lit(0).alias("cnt"), F.lit(0).alias("st"),
            F.lit(False).alias("bare"),
        )

        def mk(cnt, st, bare):
            return F.struct(cnt.alias("cnt"), F.lit(st).alias("st"), bare.alias("bare"))

        def step(acc, i):
            cnt = acc.getField("cnt")
            st = acc.getField("st")
            bare = acc.getField("bare")
            c = F.substr(src, i, F.lit(1))
            is_d = c == self.delimiter
            is_q = c == '"'
            return (
                # field start: delimiter = empty field; quote opens
                F.when((st == 0) & is_d, mk(cnt + 1, 0, bare))
                .when((st == 0) & is_q, mk(cnt, 2, bare))
                .when(st == 0, mk(cnt, 1, bare))
                # unquoted: a quote here is ErrBareQuote in strict mode
                .when((st == 1) & is_d, mk(cnt + 1, 0, bare))
                .when((st == 1) & is_q, mk(cnt, 1, F.lit(True)))
                .when(st == 1, mk(cnt, 1, bare))
                # quoted: quote arms the close
                .when((st == 2) & is_q, mk(cnt, 3, bare))
                .when(st == 2, mk(cnt, 2, bare))
                # armed: doubled quote = escape, delimiter = field end,
                # anything else = lazy literal quote (ErrQuote strict)
                .when((st == 3) & is_q, mk(cnt, 2, bare))
                .when((st == 3) & is_d, mk(cnt + 1, 0, bare))
                .otherwise(mk(cnt, 2, F.lit(True)))
            )

        def finish(acc):
            open_quote = acc.getField("st") == 2  # EOF inside quotes
            return F.struct(
                F.when(n > 0, acc.getField("cnt") + 1)
                .otherwise(F.lit(0))
                .alias("count"),
                (acc.getField("bare") | open_quote).alias("bare"),
            )

        return F.aggregate(idx, init, step, finish)

    def _field_count(self, src: Column) -> Column:
        return self._csv_scan(src).getField("count")

    @staticmethod
    def _unquote(tok: Column) -> Column:
        """Strip one layer of outer quotes and unescape RFC 4180
        doubled quotes, Go-csv style."""
        inner = tok.substr(F.lit(2), F.length(tok) - 2)
        # (?s): Java-regex '.' does not match newlines by default, and a
        # quoted field may legally contain an embedded newline (RFC 4180)
        return F.when(
            tok.rlike('(?s)^".*"$'), F.replace(inner, F.lit('""'), F.lit('"'))
        ).otherwise(tok)

    def __call__(self, df: DataFrame) -> DataFrame:
        src = field_get(self.parse_from)
        hdelim = self.header_delimiter or self.delimiter
        if self.header_attribute is not None:
            # dynamic header (parser.go:37-51): the row's own header
            # tokens zip with its CSV fields; MapCSVHeaders requires the
            # counts to MATCH exactly, and a missing header attribute is
            # a process error
            hdr = field_get(self.header_attribute)
            keys = F.split(hdr, _re.escape(hdelim))
            toks = (
                F.split(src, _re.escape(self.delimiter))
                if self.ignore_quotes
                else self._quote_split(src)
            )
            vals = F.transform(
                toks, (lambda v: v) if self.ignore_quotes else self._unquote
            )
            ok = hdr.isNotNull() & (F.size(vals) == F.size(keys))
            # a mismatched row must yield null, not a
            # SparkRuntimeException: map_from_arrays throws on unequal
            # lengths and with on_error='send' the row stays in the
            # frame, so the guard lives inside the expression
            # (reference fails per-entry only, parser.go:95-101)
            parsed_map = F.when(ok, F.map_from_arrays(keys, vals))
            out = df.withColumn("parsed", parsed_map)
            return apply_on_error(out, ok, self.on_error, self.if_expr)
        header = list(self.header)
        if self.ignore_quotes:
            # generateSplitParseFunc: plain split, quotes meaningless;
            # MapCSVHeaders still requires exact field count
            toks = F.split(src, _re.escape(self.delimiter))
            ok = F.size(toks) == len(header)
            values = {
                h: F.when(ok, try_element_at(toks, i + 1))
                for i, h in enumerate(header)
            }
            out = _write_groups(df, values, self.parse_to)
            return apply_on_error(out, ok, self.on_error, self.if_expr)
        ddl = ", ".join(f"`{h}` string" for h in header)
        # escape='"' = RFC 4180 doubled-quote escaping (Go encoding/csv);
        # Spark's default escape is backslash
        opts = {"sep": self.delimiter, "escape": '"'}
        if self.lazy_quotes:
            opts["unescapedQuoteHandling"] = "STOP_AT_CLOSING_QUOTE"
        # MapCSVHeaders (parseutils/csv.go:73-76): field count must
        # EQUAL the header length or the whole entry errors; count via
        # the tokenizer-faithful scan (from_csv pads/truncates
        # silently). Strict (non-lazy) mode additionally errors rows
        # Go csv rejects with ErrBareQuote/ErrQuote. The scan, parse,
        # and ok flag are STAGED columns so each evaluates once — a
        # per-column when(ok, ...) would re-run the O(chars) scan and
        # from_csv once per header column (conditional branches defeat
        # subexpression elimination). Go csv yields "" for empty fields
        # where Univocity yields null — coalesce inside the ok guard.
        staged = df.withColumn("__csv_src", src)
        src = F.col("__csv_src")
        staged = staged.withColumn("__csv_scan", self._csv_scan(src))
        staged = staged.withColumn("__csv_parsed", F.from_csv(src, ddl, opts))
        scan = F.col("__csv_scan")
        parsed = F.col("__csv_parsed")
        ok_expr = (scan.getField("count") == len(header)) & parsed.isNotNull()
        if not self.lazy_quotes:
            ok_expr = ok_expr & ~scan.getField("bare")
        staged = staged.withColumn("__csv_ok", ok_expr)
        ok = F.col("__csv_ok")
        values = {
            h: F.when(ok, F.coalesce(parsed.getField(h), F.lit("")))
            for h in header
        }
        out = _write_groups(staged, values, self.parse_to)
        out = apply_on_error(out, ok, self.on_error, self.if_expr)
        return out.drop("__csv_src", "__csv_scan", "__csv_parsed", "__csv_ok")


@dataclass
class KeyValueParser:
    """k=v pair extraction (parser/keyvalue/parser.go:23-48).

    Three modes:

    - ``lenient`` (default): extracts embedded ``k<delim>v`` pairs from
      free text (regexp_extract_all -> map) — the forgiving posture for
      prose-mixed transcript lines the reference would reject outright.
    - ``strict``: str_to_map over the whole string (every token must be
      a pair). ``strict=True`` is a back-compat alias.
    - ``reference``: exact ``parseutils.SplitString`` +
      ``ParseKeyValuePairs`` semantics (internal/coreinternal/
      parseutils/parser.go:16-75): pair split respects single/double
      quotes ANYWHERE in the string and strips them during the split,
      multi-char delimiters supported, leading/trailing/empty pair
      tokens dropped; each pair splits on the FIRST delimiter with both
      sides space-trimmed; duplicate keys keep the LAST value (Go map
      overwrite). Unclosed quotes, empty input, or ANY pair missing the
      delimiter fail the whole row (ProcessWith discards parsed values
      on error). Implemented as ONE aggregate scan over character
      positions — no Python in the row path.
    """

    delimiter: str = "="
    pair_delimiter: str = " "
    parse_from: str = "body"
    parse_to: str | None = "attributes"
    keys: list[str] | None = None  # with parse_to=None: which keys -> columns
    strict: bool = False
    mode: str = "lenient"  # lenient | strict | reference
    on_error: str = "send"
    if_expr: str | None = None

    def __post_init__(self):
        if self.strict and self.mode == "lenient":
            self.mode = "strict"
        if self.mode not in ("lenient", "strict", "reference"):
            raise ValueError(f"unknown mode {self.mode!r}")
        if self.mode == "reference":
            # config.go:49-60 build validation
            if self.delimiter == "":
                raise ValueError("delimiter cannot be empty")
            pd = self.pair_delimiter or " "
            if self.delimiter == pd:
                raise ValueError(
                    "delimiter and pair_delimiter cannot be the same value"
                )

    def _pairs(self, src: Column) -> Column:
        if self.mode == "strict":
            # str_to_map semantics (split on pair delim; value = rest
            # after the FIRST kv delim, null when absent) but duplicate
            # keys resolve last-wins like the Go map — str_to_map itself
            # throws DUPLICATED_MAP_KEY under the default dedup policy
            toks = F.split(src, _re.escape(self.pair_delimiter))
            d = self.delimiter
            ks = F.transform(toks, lambda t: F.substring_index(t, d, 1))
            vs = F.transform(
                toks,
                lambda t: F.when(
                    t.contains(d), F.substr(t, F.instr(t, d) + len(d))
                ),
            )
            return map_last_wins(ks, vs)
        d = _re.escape(self.delimiter)
        # values are either double-quoted (spaces allowed, quotes
        # stripped — parseutils.SplitString semantics in the reference
        # keyvalue parser) or bare non-space tokens
        pat = rf'([A-Za-z0-9_.\-]+){d}("[^"]*"|\S+)'
        vals = F.transform(
            F.regexp_extract_all(src, F.lit(pat), F.lit(2)),
            lambda v: F.when(
                # (?s): quoted values may contain newlines ('.' is not
                # DOTALL in Java regex)
                v.rlike('(?s)^".*"$'), v.substr(F.lit(2), F.length(v) - 2)
            ).otherwise(v),
        )
        return map_last_wins(
            F.regexp_extract_all(src, F.lit(pat), F.lit(1)), vals
        )

    # -- reference mode -------------------------------------------------

    def _split_string(self, src: Column) -> Column:
        """parseutils.SplitString(input, pair_delimiter) as a single
        scan over character positions: returns struct(parts
        array<string>, err boolean). One two-arg lambda whose only
        outer references are the staged source column and literals
        (HOF house rule)."""
        delim = self.pair_delimiter or " "
        dlen = len(delim)
        n = F.length(src)
        idx = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
        empty = F.array().cast("array<string>")
        init = F.struct(
            empty.alias("parts"),
            F.lit("").alias("cur"),
            F.lit("").alias("q"),
            F.lit(0).alias("skip"),
        )

        def mk(parts, cur, q, skip):
            return F.struct(
                parts.alias("parts"), cur.alias("cur"),
                q.alias("q"), skip.alias("skip"),
            )

        def step(acc, i):
            parts = acc.getField("parts")
            cur = acc.getField("cur")
            q = acc.getField("q")
            skip = acc.getField("skip")
            c = F.substr(src, i, F.lit(1))
            win = F.substr(src, i, F.lit(dlen))
            is_delim = (q == "") & (win == delim)
            is_open = (q == "") & ((c == '"') | (c == "'"))
            is_close = (q != "") & (c == q)
            return (
                F.when(skip > 0, mk(parts, cur, q, skip - 1))
                .when(
                    is_delim & (cur == ""),
                    mk(parts, cur, q, F.lit(dlen - 1)),
                )
                .when(
                    is_delim,
                    mk(F.concat(parts, F.array(cur)), F.lit(""), q, F.lit(dlen - 1)),
                )
                .when(is_open, mk(parts, cur, c, F.lit(0)))
                .when(is_close, mk(parts, cur, F.lit(""), F.lit(0)))
                .otherwise(mk(parts, F.concat(cur, c), q, F.lit(0)))
            )

        def finish(acc):
            parts = acc.getField("parts")
            cur = acc.getField("cur")
            return F.struct(
                F.when(cur != "", F.concat(parts, F.array(cur)))
                .otherwise(parts)
                .alias("parts"),
                (acc.getField("q") != "").alias("err"),
            )

        return F.aggregate(idx, init, step, finish)

    def _ref_pairs(self, src: Column) -> tuple[Column, Column]:
        """ParseKeyValuePairs over the split parts: (map, ok). ok is
        false on unclosed quotes, empty input, or any pair missing the
        delimiter (multierr -> whole-entry error)."""
        delim = self.delimiter
        dlen = len(delim)
        split = self._split_string(src)
        parts = split.getField("parts")
        bad_pair = F.exists(parts, lambda p: F.instr(p, delim) == 0)
        ok = (
            src.isNotNull() & (src != "") & ~split.getField("err") & ~bad_pair
        )
        def _trimspace(c: Column) -> Column:
            # strings.TrimSpace trims ALL whitespace (tabs/newlines),
            # not just the space char F.trim handles
            return F.regexp_replace(c, r"^\s+|\s+$", "")

        kv = F.transform(
            parts,
            lambda p, i: F.struct(
                _trimspace(F.substr(p, F.lit(1), F.instr(p, delim) - 1)).alias("k"),
                i.alias("i"),
                _trimspace(F.substr(p, F.instr(p, delim) + dlen)).alias("v"),
            ),
        )
        # duplicate keys: LAST wins (Go map overwrite) — stable
        # (k, i)-sort then scan replacing the tail value on equal key
        agg = grouped_kv_scan(F.array_sort(kv), accumulate=False)
        pairs = F.map_from_arrays(agg.getField("ks"), agg.getField("vs"))
        return F.when(ok, pairs), ok

    def __call__(self, df: DataFrame) -> DataFrame:
        src = field_get(self.parse_from)
        if self.mode == "reference":
            df = df.withColumn("__kv_src", src)
            pairs, ok = self._ref_pairs(F.col("__kv_src"))
        else:
            pairs = self._pairs(src)
            ok = F.size(pairs) > 0
        if self.parse_to is None:
            keys = self.keys or []
            values = {k: try_element_at(pairs, k) for k in keys}
            out = _write_groups(df, values, None)
        elif self.parse_to in ("attributes", "resource"):
            existing = F.coalesce(
                F.col(self.parse_to), F.from_json(F.lit("{}"), "map<string,string>")
            )
            parsed_keys = F.map_keys(pairs)
            cleaned = F.map_filter(
                existing, lambda k, _: ~F.array_contains(parsed_keys, k)
            )
            out = df.withColumn(
                self.parse_to,
                F.when(ok, F.map_concat(cleaned, pairs)).otherwise(F.col(self.parse_to)),
            )
        else:
            out = df.withColumn(self.parse_to, pairs)
        if self.mode == "reference":
            out = out.drop("__kv_src")
        return apply_on_error(out, ok, self.on_error, self.if_expr)


# strptime ctime directive -> JVM DateTimeFormatter pattern, following
# the reference's ctime -> gotime table (internal/coreinternal/
# timeutils/internal/ctimefmt/ctimefmt.go:23-62) token for token:
# %q/%o = non/space-padded month, %g/%e = non/space-padded day,
# %L/%f/%s = milli/micro/nanoseconds (Spark timestamps are
# microsecond-precision, so %s truncates the last 3 digits), %z =
# gotime Z0700 (accepts 'Z' or +-hhmm -> XX), %j/%i/%w/%k = the
# colon/second offset variants. Weekday tokens translate to EEE/EEEE
# and are handled by TimeParser (Spark refuses 'E' in parse patterns;
# Go ignores the day name anyway).
_STRPTIME = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%o": "M", "%q": "M",
    "%d": "dd", "%e": "d", "%g": "d",
    "%H": "HH", "%I": "hh", "%l": "h",
    "%M": "mm", "%S": "ss",
    "%f": "SSSSSS", "%L": "SSS", "%s": "SSSSSSSSS",
    "%p": "a", "%P": "a",
    "%z": "XX", "%Z": "zz",
    "%i": "x", "%j": "xxx", "%w": "xxxx", "%k": "xxxxx",
    "%b": "MMM", "%h": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE",
    "%D": "MM/dd/yyyy", "%x": "MM/dd/yyyy", "%F": "yyyy-MM-dd",
    "%T": "HH:mm:ss", "%X": "HH:mm:ss", "%r": "hh:mm:ss a", "%R": "HH:mm",
    "%n": "\n", "%t": "\t",
}


# Go reference-time layout tokens -> JVM DateTimeFormatter pattern.
# gotime is stanza's DEFAULT layout_type (helper/time.go:34); tokens from
# Go's time package reference time "Mon Jan 2 15:04:05 MST 2006".
# Ordered longest-first so e.g. "2006" wins over "06" and "01" over "1".
_GOTIME = [
    ("2006", "yyyy"), ("06", "yy"),
    ("January", "MMMM"), ("Jan", "MMM"), ("01", "MM"),
    ("Monday", "EEEE"), ("Mon", "EEE"),
    ("02", "dd"), ("_2", "d"), ("15", "HH"),
    ("04", "mm"), ("05", "ss"),
    (".000000000", ".SSSSSSSSS"), (".000000", ".SSSSSS"), (".000", ".SSS"),
    ("999999999", "SSSSSSSSS"), ("999999", "SSSSSS"), ("999", "SSS"),
    ("PM", "a"), ("pm", "a"),
    ("Z07:00", "XXX"), ("Z0700", "XX"),
    ("-07:00:00", "xxxxx"), ("-070000", "xxxx"),
    ("-07:00", "xxx"), ("-0700", "xx"), ("-07", "x"),
    ("MST", "zz"),
    ("03", "hh"), ("3", "h"), ("2", "d"), ("1", "M"),
]


def gotime_to_jvm(layout: str) -> str:
    """Translate a Go time layout to a JVM pattern by greedy
    longest-token scan; literal letters are quoted."""
    out = []
    i = 0
    while i < len(layout):
        for tok, jvm in _GOTIME:
            if layout.startswith(tok, i):
                out.append(jvm)
                i += len(tok)
                break
        else:
            ch = layout[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


def strptime_to_jvm(layout: str) -> str:
    out = []
    i = 0
    while i < len(layout):
        if layout[i] == "%" and i + 1 < len(layout):
            tok = layout[i : i + 2]
            if tok == "%%":
                out.append("%")
            elif tok in _STRPTIME:
                out.append(_STRPTIME[tok])
            else:
                raise ValueError(f"unsupported strptime directive {tok}")
            i += 2
        elif layout[i].isalpha():
            out.append(f"'{layout[i]}'")
            i += 1
        else:
            out.append(layout[i])
            i += 1
    return "".join(out)


@dataclass
class TimeParser:
    """Event-time parsing (helper/time.go, parser/time/parser.go).

    layout_type: ``strptime`` (ctime directives, translated to a JVM
    pattern), ``gotime`` (Go reference-time layouts — stanza's default,
    helper/time.go:34), ``spark`` (raw JVM pattern), ``epoch`` with
    layout one of s|ms|us|ns. Writes ``ts`` (entry.Timestamp) by default.
    """

    layout: str = "%Y-%m-%dT%H:%M:%S"
    layout_type: str = "strptime"
    parse_from: str = "body"
    to_field: str = "ts"
    on_error: str = "send"
    if_expr: str | None = None

    def __call__(self, df: DataFrame) -> DataFrame:
        src = field_get(self.parse_from)
        if self.layout_type == "epoch":
            num = src.try_cast("long")
            parsed = {
                "s": F.timestamp_seconds(num),
                "ms": F.timestamp_millis(num),
                "us": F.timestamp_micros(num),
                "ns": F.timestamp_micros(
                    (num.cast("decimal(38,0)") / F.lit(1000)).cast("long")
                ),
            }[self.layout]
        else:
            if self.layout_type == "strptime":
                fmt = strptime_to_jvm(self.layout)
            elif self.layout_type == "gotime":
                fmt = gotime_to_jvm(self.layout)
            else:
                fmt = self.layout
            if fmt.startswith(("EEEE", "EEE")):
                # Go ignores the weekday name when parsing and Spark
                # refuses 'E' in parse patterns — drop the leading
                # token from the pattern and the name from the input
                fmt = _re.sub(r"^EEEE?[ ,]*", "", fmt)
                src = F.regexp_replace(src, r"^[A-Za-z]+[ ,]+", "")
            _iso_shapes = {
                "yyyy-MM-dd'T'HH:mm:ss": r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}$",
                "yyyy-MM-dd HH:mm:ss": r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$",
                "yyyy-MM-dd": r"^\d{4}-\d{2}-\d{2}$",
            }
            if fmt in _iso_shapes:
                # ISO layouts hit Spark's hand-rolled stringToTimestamp
                # cast (~4x faster than DateTimeFormatter-based
                # try_to_timestamp; measured 2us -> 0.5us/row). The
                # rlike shape guard keeps the LAYOUT's acceptance
                # semantics: the bare cast would also parse date-only
                # strings, zone suffixes, fractional seconds
                parsed = F.when(
                    src.rlike(_iso_shapes[fmt]), src.try_cast("timestamp")
                )
            else:
                parsed = F.try_to_timestamp(src, F.lit(fmt))
        ok = parsed.isNotNull()
        guard = ok if self.if_expr is None else (ok & F.expr(self.if_expr))
        existing = F.col(self.to_field) if self.to_field in df.columns else F.lit(None).cast("timestamp")
        out = df.withColumn(self.to_field, F.when(guard, parsed).otherwise(existing))
        return apply_on_error(out, ok, self.on_error, self.if_expr)


# OTel severity enum (pkg/stanza/entry/severity.go:10-52)
SEVERITY_NUMBERS = {
    "trace": 1, "trace2": 2, "trace3": 3, "trace4": 4,
    "debug": 5, "debug2": 6, "debug3": 7, "debug4": 8,
    "info": 9, "info2": 10, "info3": 11, "info4": 12,
    "warn": 13, "warn2": 14, "warn3": 15, "warn4": 16,
    "error": 17, "error2": 18, "error3": 19, "error4": 20,
    "fatal": 21, "fatal2": 22, "fatal3": 23, "fatal4": 24,
}
# default text aliases (stanza severity presets)
SEVERITY_ALIASES = {
    "trace": "trace", "debug": "debug", "info": "info",
    "information": "info", "notice": "info2",
    "warn": "warn", "warning": "warn",
    "err": "error", "error": "error",
    "crit": "fatal", "critical": "fatal", "fatal": "fatal",
    "alert": "fatal2", "emerg": "fatal3", "emergency": "fatal3",
    "panic": "fatal4",
}
SEVERITY_TEXT = {
    1: "TRACE", 5: "DEBUG", 9: "INFO", 10: "INFO2", 13: "WARN",
    17: "ERROR", 21: "FATAL", 22: "FATAL2", 23: "FATAL3", 24: "FATAL4",
}


# severity dim frames cached per (session, mapping): each build is a
# driver round-trip and pipelines are often rebuilt per batch.
# WeakKeyDictionary keyed on the session itself (NOT id(spark)): entries
# die with the session, so a garbage-collected session can never alias a
# reused CPython id onto a stale DataFrame bound to a dead JVM handle.
def _severity_dim(spark, rows: tuple):
    # session-keyed cache shared with the transcripts dims
    # (envelope.cached_session_df — one implementation of the
    # WeakKeyDictionary-on-the-session pattern)
    from ..envelope import cached_session_df, local_frame

    return cached_session_df(
        spark,
        ("severity", rows),
        lambda: local_frame(
            spark, rows, "__sev_alias string, __sev_num int, __sev_text string"
        ),
    )


_HTTP_RANGES = {"2xx": (200, 299), "3xx": (300, 399), "4xx": (400, 499), "5xx": (500, 599)}


def expand_stanza_severity_mapping(stanza: dict) -> dict[str, str]:
    """Stanza severity config orientation (severity -> alias | int |
    {min,max} range | "2xx".."5xx" | list of those;
    helper/severity_builder.go:88-199) -> our alias -> severity dict."""
    out: dict[str, str] = {}

    def add(value, name: str) -> None:
        if isinstance(value, list):
            for v in value:
                add(v, name)
        elif isinstance(value, dict):
            lo, hi = int(value["min"]), int(value["max"])
            if lo > hi:  # severity_builder.go expandRange swaps reversed bounds
                lo, hi = hi, lo
            for n in range(lo, hi + 1):
                out[str(n)] = name
        elif isinstance(value, int):
            out[str(value)] = name
        elif isinstance(value, str) and value.lower() in _HTTP_RANGES:
            lo, hi = _HTTP_RANGES[value.lower()]
            for n in range(lo, hi + 1):
                out[str(n)] = name
        else:
            out[str(value)] = name

    for name, value in stanza.items():
        # severity names are case-insensitive in the builder
        # (severity_builder.go validateseverity lowercases the key)
        name = name.lower()
        if name not in SEVERITY_NUMBERS:
            raise ValueError(f"unknown severity {name!r}")
        add(value, name)
    return out


@dataclass
class SeverityParser:
    """Text -> (severity_number, severity_text)
    (pkg/stanza/operator/helper/severity.go; enum entry/severity.go:10-52).
    Compiles the alias table into one CASE expression.

    ``stanza_mapping`` accepts the stanza config orientation — severity
    name -> aliases / {min,max} ranges / "2xx" HTTP buckets — and
    expands it to the alias dimension (overrides ``mapping``)."""

    parse_from: str = "severity_text"
    mapping: dict[str, str] = field(default_factory=lambda: dict(SEVERITY_ALIASES))
    stanza_mapping: dict | None = None
    preset: str = "default"  # severity_builder.go:216-228: default | none
    on_error: str = "send"
    if_expr: str | None = None

    def __post_init__(self):
        if self.preset not in ("default", "none"):
            raise ValueError(f"unknown severity preset {self.preset!r}")
        base = dict(SEVERITY_ALIASES) if self.preset == "default" else {}
        if self.stanza_mapping is not None:
            # the reference severity_builder MERGES user mappings into the
            # builtin preset (operatorMapping.add over the default table,
            # severity_builder.go:201-214) — user entries win, but 'warn',
            # 'emerg' etc. keep resolving; preset 'none' starts empty
            self.mapping = {
                **base,
                **expand_stanza_severity_mapping(self.stanza_mapping),
            }
        elif self.preset == "none":
            self.mapping = {}

    def __call__(self, df: DataFrame) -> DataFrame:
        # Broadcast-join the alias dimension instead of a 16-branch
        # when-chain: each chain branch would re-inline the (possibly
        # regex-derived) source expression, and Spark's conditional
        # subexpression elimination does not fold it -> measured ~16x
        # the parse cost at 2M rows. A 16-row broadcast hash join probes
        # the source ONCE per row (SURVEY.md 2.8: severity alias maps
        # are lookup enrichment, same as k8sattributes).
        # first-wins dedupe on the LOWERED alias: the join probes
        # lower(source), so two mapping entries colliding after lower()
        # (e.g. "warn" and "WARN") would fan the left join out and
        # silently multiply row counts downstream
        seen: dict[str, tuple] = {}
        for alias, name in self.mapping.items():
            low = alias.lower()
            if low not in seen:
                seen[low] = (
                    low,
                    SEVERITY_NUMBERS[name],
                    SEVERITY_TEXT.get(SEVERITY_NUMBERS[name]),
                )
        rows = tuple(seen.values())
        dim = _severity_dim(df.sparkSession, rows)
        src = F.lower(field_get(self.parse_from))
        joined = df.join(
            F.broadcast(dim), src == F.col("__sev_alias"), "left"
        )
        num = F.coalesce(F.col("__sev_num"), F.lit(0))
        canonical = F.coalesce(
            F.col("__sev_text"), F.upper(field_get(self.parse_from))
        )
        out = (
            joined.withColumn("severity_number", num)
            .withColumn("severity_text", canonical)
            .drop("__sev_alias", "__sev_num", "__sev_text")
        )
        ok = F.col("severity_number") != 0
        return apply_on_error(out, ok, self.on_error, self.if_expr)


@dataclass
class ScopeNameParser:
    """Logger/scope name promotion
    (pkg/stanza/operator/parser/scope/parser.go:14-22 +
    helper.ScopeNameParser): read ``parse_from``, set the entry's scope
    name — under the envelope that is the ``scope`` column."""

    parse_from: str = "logger"
    to_field: str = "scope"

    def __call__(self, df: DataFrame) -> DataFrame:
        return df.withColumn(self.to_field, field_get(self.parse_from).cast("string"))


@dataclass
class TraceParser:
    """Hex trace/span ids -> binary (parser/trace/parser.go,
    helper/trace.go Parse): each configured field decodes
    independently — an invalid-hex field stays null while the others
    still parse (the reference returns a joined error but keeps the
    valid ids); rows with any present-but-invalid source are parse
    errors under the ``on_error`` contract. With no ``*_from``
    configured, the stanza defaults ``trace_id`` / ``span_id`` /
    ``trace_flags`` are read when those columns exist."""

    trace_from: str | None = None
    span_from: str | None = None
    flags_from: str | None = None
    on_error: str = "send"
    if_expr: str | None = None

    def __call__(self, df: DataFrame) -> DataFrame:
        ok = F.lit(True)
        pairs = [
            ("trace_id", self.trace_from),
            ("span_id", self.span_from),
            ("trace_flags", self.flags_from),
        ]
        staged = []
        for target, src_path in pairs:
            if src_path is None:
                if target not in df.columns:
                    continue
                src_path = target
            # stage the source FIRST: the decode overwrites the target
            # column, and the ok predicate must read the original value
            # (not the freshly-written binary)
            raw = f"__trace_raw_{target}"
            df = df.withColumn(raw, field_get(src_path))
            staged.append((target, raw))
        for target, raw in staged:
            src = F.col(raw)
            # Go hex.DecodeString errors on ODD length where Spark unhex
            # left-pads a nibble — gate the decode on even length so an
            # odd-length id nulls out and errors instead of silently
            # producing a padded binary
            decoded = F.when(F.length(src) % 2 == 0, F.unhex(src))
            ok = ok & (src.isNull() | decoded.isNotNull())
            df = df.withColumn(target, decoded)
        df = apply_on_error(df, ok, self.on_error, self.if_expr)
        return df.drop(*[raw for _, raw in staged])


CRI_PATTERN = (
    r"^(\S+) (stdout|stderr) ([PF]) ?(.*)$"
)  # containerd / CRI-O: "<rfc3339-ts> <stream> <P|F> <log>"


@dataclass
class ContainerParser:
    """Docker / containerd / CRI-O log line autodetect
    (parser/container/parser.go:57-358).

    - docker JSON: ``{"log": "...", "stream": "stdout", "time": "..."}``
    - containerd/CRI-O: ``<rfc3339> <stdout|stderr> <P|F> <line>``

    Emits ``log`` (body), ``stream`` (-> ``log.iostream`` attr),
    ``event_ts``, ``partial`` (CRI 'P' tag; docker lines are complete).
    Partial-line assembly is the standard :class:`Recombine` with
    ``is_last_entry="NOT partial"`` — same internal-recombine semantics
    as the reference's ``recombineInternal``.
    ``add_metadata_from_file_path`` (parser.go:31-54, on by default in
    the reference config) resolves k8s pod metadata from the
    ``/var/log/pods/<ns>_<pod>_<uid>/<container>/<restart>.log`` path in
    ``path_attribute`` into ``k8s_*`` columns.
    Detection and both parse paths are one codegen'd projection.
    """

    parse_from: str = "body"
    add_metadata_from_file_path: bool = False
    path_attribute: str = "log.file.path"
    on_error: str = "send"
    if_expr: str | None = None

    # logpathPattern (parser.go:31), group order ns/pod/uid/container/restart
    LOGPATH = r"^.*/([^_]+)_([^_]+)_([a-f0-9\-]+)/([^._]+)/(\d+)\.log$"

    def __call__(self, df: DataFrame) -> DataFrame:
        src = field_get(self.parse_from)
        is_docker = src.startswith("{")
        docker = F.from_json(
            src, "log string, stream string, time string"
        )
        cri_ok = src.rlike(CRI_PATTERN)

        def g(i: int) -> Column:
            return F.regexp_extract(src, CRI_PATTERN, i)

        log = F.when(is_docker, docker.getField("log")).when(cri_ok, g(4))
        stream = F.when(is_docker, docker.getField("stream")).when(cri_ok, g(2))
        ts_str = F.when(is_docker, docker.getField("time")).when(cri_ok, g(1))
        partial = F.when(is_docker, F.lit(False)).when(cri_ok, g(3) == "P")
        ok = (is_docker & docker.isNotNull()) | cri_ok
        cols = {
            "log": log,
            "stream": stream,
            "event_ts": F.try_to_timestamp(ts_str),
            "partial": partial,
        }
        if self.add_metadata_from_file_path:
            # the path attribute name contains dots ('log.file.path') —
            # resolve a literal column of that name first, then the
            # attributes map, before dotted struct traversal
            if self.path_attribute in df.columns:
                path = F.col(f"`{self.path_attribute}`")
            elif "attributes" in df.columns:
                path = try_element_at(F.col("attributes"), self.path_attribute)
            else:
                path = field_get(self.path_attribute)

            def pg(i: int) -> Column:
                v = F.regexp_extract(path, self.LOGPATH, i)
                return F.when(v != "", v)

            # k8sMetadataMapping (parser.go:47-54)
            cols.update(
                {
                    "k8s_namespace_name": pg(1),
                    "k8s_pod_name": pg(2),
                    "k8s_pod_uid": pg(3),
                    "k8s_container_name": pg(4),
                    "k8s_container_restart_count": pg(5),
                }
            )
        out = df.withColumns(cols)
        return apply_on_error(out, ok, self.on_error, self.if_expr)


# syslog severity (0-7) -> OTel severity number, per the stanza alias
# presets (entry/severity.go:10-52: emerg->fatal3, alert->fatal2,
# crit->fatal, err->error, warning->warn, notice->info2, info->info,
# debug->debug)
SYSLOG_SEVERITY_TO_OTEL = {0: 23, 1: 22, 2: 21, 3: 17, 4: 13, 5: 10, 6: 9, 7: 5}

RFC5424_PATTERN = (
    r"^<(\d{1,3})>(\d+) (\S+) (\S+) (\S+) (\S+) (\S+) (-|(?:\[.*?\])+) ?(.*)$"
)
RFC3164_PATTERN = (
    r"^<(\d{1,3})>([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) (\S+) "
    r"([^:\[ ]+)(?:\[(\d+)\])?: ?(.*)$"
)
# allow_skip_pri_header (config.go AllowSkipPriHeader): the <pri> prefix
# may be absent; priority/facility/severity come out null then
RFC3164_SKIP_PRI_PATTERN = (
    r"^(?:<(\d{1,3})>)?([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) (\S+) "
    r"([^:\[ ]+)(?:\[(\d+)\])?: ?(.*)$"
)


@dataclass
class SyslogParser:
    """RFC5424 / RFC3164 syslog line -> structured fields
    (parser/syslog/parser.go:39-319).

    Emits ``facility`` (= priority / 8), ``severity_number`` (syslog
    severity mapped to the OTel enum via the stanza alias presets),
    plus protocol fields: rfc5424 -> version, event_ts, hostname,
    appname, proc_id, msg_id, structured_data, message; rfc3164 ->
    event_ts (year-less ctime), hostname, tag, proc_id, message.
    Pure regexp_extract + arithmetic — codegen'd, no UDF.
    """

    protocol: str = "rfc5424"
    parse_from: str = "body"
    allow_skip_pri_header: bool = False  # rfc3164 lines may omit <pri>
    location: str = "UTC"  # timezone the year-less rfc3164 wall time is in
    on_error: str = "send"
    if_expr: str | None = None

    def __call__(self, df: DataFrame) -> DataFrame:
        src = field_get(self.parse_from)
        if self.protocol == "rfc5424":
            pat = RFC5424_PATTERN
        elif self.allow_skip_pri_header:
            pat = RFC3164_SKIP_PRI_PATTERN
        else:
            pat = RFC3164_PATTERN
        ok = src.rlike(pat)

        def g(i: int) -> Column:
            return F.when(ok, F.regexp_extract(src, pat, i))

        pri = g(1).cast("int")
        sev_expr = None
        for s, otel in SYSLOG_SEVERITY_TO_OTEL.items():
            c = pri % 8 == s
            sev_expr = F.when(c, otel) if sev_expr is None else sev_expr.when(c, otel)
        common = {
            "priority": pri,
            "facility": F.floor(pri / 8).cast("int"),
            "severity_number": sev_expr.otherwise(F.lit(None)).cast("int"),
        }
        if self.protocol == "rfc5424":
            # structured data `[id k="v" ...]` additionally parses into
            # sd_id + a typed map (the reference emits a nested map,
            # parser.go postprocess); the raw string stays alongside.
            sd = g(8)
            sd_kv_full = r'([A-Za-z0-9_.\-]+)="[^"]*"'
            sd_kv_val = r'[A-Za-z0-9_.\-]+="([^"]*)"'
            values = {
                **common,
                "version": g(2).cast("int"),
                "event_ts": g(3).try_cast("timestamp"),
                "hostname": g(4),
                "appname": g(5),
                "proc_id": g(6),
                "msg_id": g(7),
                "structured_data": sd,
                "sd_id": F.when(
                    sd.rlike(r"^\["), F.regexp_extract(sd, r"^\[([^\s\]]+)", 1)
                ),
                "structured_data_map": F.when(
                    sd.rlike(r"^\["),
                    map_last_wins(
                        F.regexp_extract_all(sd, F.lit(sd_kv_full), F.lit(1)),
                        F.regexp_extract_all(sd, F.lit(sd_kv_val), F.lit(1)),
                    ),
                ),
                "message": g(9),
            }
        else:
            # ctime pads single-digit days with a space ("Aug  5 12:00:00");
            # collapse runs of spaces so "MMM d" parses days 1-9, and graft
            # the current year (rfc3164 timestamps are year-less; the
            # reference stanza parser assumes the present year, not 1970)
            ts3164 = F.concat_ws(
                " ",
                F.year(F.current_date()).cast("string"),
                F.regexp_replace(g(2), "  +", " "),
            )
            event_ts = F.try_to_timestamp(ts3164, F.lit("yyyy MMM d HH:mm:ss"))
            if self.location.upper() != "UTC":
                # rfc3164 wall time carries no zone; `location` names the
                # zone it was written in (config.go Location) — convert
                # that local instant to UTC
                event_ts = F.to_utc_timestamp(event_ts, self.location)
            values = {
                **common,
                "event_ts": event_ts,
                "hostname": g(3),
                "tag": g(4),
                "proc_id": g(5),
                "message": g(6),
            }
        out = df.withColumns(values)
        return apply_on_error(out, ok, self.on_error, self.if_expr)


@dataclass
class UriParser:
    """URI -> components with Go ``parseutils.ParseURI`` parity
    (parser/uri/parser.go:36-48, internal/coreinternal/parseutils/
    uri.go:22-52 + urlToMap:100-127 + queryToMap:129-155).

    Emits ``scheme`` (lowercased, as url.Parse does), ``user``
    (username only), ``host``, ``port``, ``path`` (raw/escaped form =
    EscapedPath), ``query`` (the raw query string), and
    ``query_params`` (``map<string, array<string>>`` — url.Values:
    repeated keys accumulate in order, keys/values percent-decoded with
    ``+`` as space). Empty components are null (urlToMap excludes
    unset values).

    Error semantics (url.ParseRequestURI): the input must be an
    absolute URI (leading scheme), an absolute path (leading ``/``), or
    a bare query (leading ``?`` — ParseURI:25-32); anything else
    (``golang.org``, ``:8080``, ``user=dev``) is a parse failure, as is
    a query containing ``;`` (url.ParseQuery rejects semicolons).
    Failures flow through the stanza ``on_error`` contract.

    One RFC-3986 regexp + one array scan per row — zero shuffle, no
    Python in the row path.
    """

    parse_from: str = "body"
    parse_to: str | None = None
    prefix: str = ""
    on_error: str = "send"
    if_expr: str | None = None

    # RFC 3986 appendix-B style, with a numeric-port authority split.
    # The lookahead after the authority forces it to consume up to a
    # path/query/fragment boundary — 'http://host:8080x/p' (invalid
    # port) and IPv6 bracket hosts fail the authority as a whole and
    # surface as parse errors below, like Go's 'invalid port' error
    # (bracketed IPv6 authorities, which Go does accept, are an
    # unsupported-input -> error deviation here, never corrupt output)
    URI_RE = (
        r"^(?:([A-Za-z][A-Za-z0-9+.-]*):)?"       # 1 scheme
        r"(?://(?:([^@/?#]*)@)?"                   # 2 userinfo
        r"([^:/?#]*)(?::([0-9]*))?(?=[/?#]|$))?"   # 3 host, 4 port
        r"([^?#]*)"                                # 5 path
        r"(?:\?([^#]*))?"                          # 6 query
        r"(?:#(.*))?$"                             # 7 fragment
    )
    # a %-sequence is decodable only when well-formed (url_decode throws
    # on stray '%'; Go's QueryUnescape returns an error)
    _DECODABLE = r"^(?:[^%]|%[0-9A-Fa-f]{2})*$"

    def _decodable(self, c: Column) -> Column:
        return F.replace(c, F.lit("+"), F.lit(" ")).rlike(self._DECODABLE)

    def _decode(self, c: Column) -> Column:
        plus = F.replace(c, F.lit("+"), F.lit(" "))
        return F.when(plus.rlike(self._DECODABLE), F.url_decode(plus)).otherwise(plus)

    @staticmethod
    def _seg_key(s: Column) -> Column:
        return F.substring_index(s, "=", 1)

    @staticmethod
    def _seg_val(s: Column) -> Column:
        return F.when(
            s.contains("="), F.substr(s, F.instr(s, "=") + 1)
        ).otherwise(F.lit(""))

    def _seg_bad(self, s: Column) -> Column:
        """A query segment Go's parseQuery records an error for: a ';'
        separator or an undecodable %-escape in key or value."""
        return (
            s.contains(";")
            | ~self._decodable(self._seg_key(s))
            | ~self._decodable(self._seg_val(s))
        )

    def __call__(self, df: DataFrame) -> DataFrame:
        src = field_get(self.parse_from)
        p = self.prefix

        def part(i: int) -> Column:
            v = F.regexp_extract(src, self.URI_RE, i)
            return F.when(v != "", v)

        scheme, userinfo, host = part(1), part(2), part(3)
        port, path, query = part(4), part(5), part(6)
        # ParseRequestURI accepts absolute URIs and absolute paths;
        # ParseURI additionally accepts a '?'-prefixed bare query. An
        # input whose '//' authority section failed the regex (bad
        # port, bracket host) falls into the PATH group as '//...' with
        # no host — Go errors those ('invalid port'), so flag them.
        authority_failed = (
            path.isNotNull() & path.startswith("//") & host.isNull()
        )
        # Error semantics split by input shape (ParseURI:25-52):
        # - bare '?query' goes through url.ParseQuery DIRECTLY, so a ';'
        #   separator or an undecodable %-escape is a row parse error;
        # - absolute URIs / absolute paths reach the query via
        #   url.URL.Query(), which SWALLOWS the ParseQuery error — the
        #   row survives with scheme/host/path intact and only the bad
        #   segments dropped from query_params (Go's parseQuery `continue`s
        #   past them). Erroring the whole row here would silently lose
        #   data the reference preserves.
        segs = F.filter(
            F.split(F.coalesce(query, F.lit("")), "&"), lambda x: x != ""
        )
        bare_query_bad = src.startswith("?") & F.exists(
            segs, lambda s: self._seg_bad(s)
        )
        ok = (
            (
                scheme.isNotNull()
                | src.startswith("/")
                | src.startswith("?")
            )
            & ~bare_query_bad
            & ~F.coalesce(authority_failed, F.lit(False))
        )

        # url.Values: split '&', skip empties AND segments parseQuery
        # skips (';' / bad escape), key = before first '=', decoded;
        # repeated keys accumulate values in order. ONE indexed-transform
        # lambda + ONE scan lambda over the key-sorted pairs (struct sort
        # is stable via the index field — no nested lambdas, per the HOF
        # house rule).
        pairs = F.filter(segs, lambda x: ~self._seg_bad(x))
        kv = F.transform(
            pairs,
            lambda s, i: F.struct(
                self._decode(self._seg_key(s)).alias("k"),
                i.alias("i"),
                self._decode(self._seg_val(s)).alias("v"),
            ),
        )
        staged = df.withColumn("__kv_sorted", F.array_sort(kv))
        agg = grouped_kv_scan(F.col("__kv_sorted"), accumulate=True)
        params = F.when(
            F.size(F.col("__kv_sorted")) > 0,
            F.map_from_arrays(agg.getField("ks"), agg.getField("vs")),
        )
        values = {
            f"{p}scheme": F.lower(scheme),
            f"{p}user": F.when(userinfo.isNotNull(), F.substring_index(userinfo, ":", 1)),
            f"{p}host": host,
            f"{p}port": port,
            f"{p}path": path,
            f"{p}query": query,
            f"{p}query_params": params,
        }
        # error rows keep NO components (ParseURI returns nil, err — the
        # entry is left untouched under send mode)
        values = {k: F.when(ok, v) for k, v in values.items()}
        out = _write_groups(staged, values, self.parse_to).drop("__kv_sorted")
        return apply_on_error(out, ok, self.on_error, self.if_expr)


@dataclass
class JsonArrayParser:
    """JSON array string -> array column, optionally zipped with header
    names into columns (parser/jsonarray/parser.go:25-125)."""

    parse_from: str = "body"
    parse_to: str = "parsed"
    header: list[str] | None = None
    on_error: str = "send"
    if_expr: str | None = None

    def __call__(self, df: DataFrame) -> DataFrame:
        src = field_get(self.parse_from)
        arr = F.from_json(src, "array<string>")
        ok = arr.isNotNull()
        if self.header:
            values = {h: try_element_at(arr, i + 1) for i, h in enumerate(self.header)}
            out = _write_groups(df, values, None)
        else:
            out = df.withColumn(self.parse_to, arr)
        return apply_on_error(out, ok, self.on_error, self.if_expr)
