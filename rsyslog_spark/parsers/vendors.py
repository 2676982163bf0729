"""Vendor/special-case parsers (pm* family beyond the RFC pair).

Each is a pure-Column stage applied to the canonical parsed frame —
the Spark analog of inserting the parser into a ruleset's parser
chain (ref: runtime/parser.c:615-660).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from rsyslog_spark.expr import memo_column_factory as _memo_column_factory
from rsyslog_spark.session import now_col as _now_col

# "last message repeated n times" (ref: plugins/pmlastmsg/pmlastmsg.c:1-6)
_REPEAT_RE = r"^\s*last message repeated (\d+) times\s*$"


def pmlastmsg_detect(df: DataFrame, msg_col: str = "msg") -> DataFrame:
    """Flag repeat-summary rows and extract their count.

    Adds ``repeat_count`` (NULL for normal rows). The reference parser
    short-circuits the chain for these rows so later parsers don't
    mangle them; here they are already parsed, we just type them.
    """
    cnt = F.regexp_extract(F.col(msg_col), _REPEAT_RE, 1)
    return df.withColumn(
        "repeat_count",
        F.when(cnt != "", cnt.cast("long")),
    )


def pmlastmsg_expand(
    df: DataFrame,
    key_col: str = "hostname",
    order_col: str = "timereported",
    msg_col: str = "msg",
) -> DataFrame:
    """Inverse of repeated-msg reduction: replace each summary row with
    ``repeat_count`` copies of the preceding real message from the same
    host. One window pass (last non-summary msg) + an explode —
    shuffles once by host, no Python.
    """
    flagged = pmlastmsg_detect(df, msg_col)
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_real = F.last(
        F.when(F.col("repeat_count").isNull(), F.col(msg_col)),
        ignorenulls=True,
    ).over(w)
    expanded = flagged.withColumn(
        msg_col,
        F.when(F.col("repeat_count").isNotNull(), prev_real)
        .otherwise(F.col(msg_col)),
    ).withColumn(
        "_copies",
        F.explode(
            F.sequence(F.lit(1), F.coalesce("repeat_count", F.lit(1)))
        ),
    )
    return expanded.drop("_copies", "repeat_count")


# Cisco IOS: "%FACILITY-SEVERITY-MNEMONIC: text", optional "seq: " and
# timestamp prefix with optional TZ abbreviation (ref: plugins/
# pmciscoios/pmciscoios.c — the only parser calling
# ParseTIMESTAMP3164 with PARSE3164_TZSTRING, datetime.c:685)
_CISCO_RE = (r"^(?:(\d+):\s+)?(?:[*.]?(\w{3}\s+\d+\s+[\d:.]+)"
             r"(?:\s+(\w+))?:\s+)?%(\w+)-(\d)-(\w+):\s*(.*)$")


def _cisco_ts(ts: Column) -> Column:
    """Cisco timestamp text ``Mmm [d]d hh:mm:ss[.mmm]`` → timestamp,
    current-year inference like the 3164 parse."""
    norm = F.regexp_replace(ts, "  +", " ")
    year = F.date_format(_now_col(), "yyyy")
    full = F.concat(year, F.lit(" "), norm)
    return F.coalesce(
        F.try_to_timestamp(full, F.lit("yyyy MMM d HH:mm:ss.SSS")),
        F.try_to_timestamp(full, F.lit("yyyy MMM d HH:mm:ss")),
    )


def pmciscoios(df: DataFrame, msg_col: str = "msg",
               timezones: dict[str, str] | None = None) -> DataFrame:
    """Parse Cisco IOS message bodies into typed columns:
    ``cisco_seq``, ``cisco_facility``, ``cisco_mnemonic``,
    ``cisco_severity`` (overrides syslogseverity when present, as the
    reference does), ``cisco_time`` (the IOS timestamp prefix, when
    present), and rewrites ``msg`` to the text after the mnemonic.
    Non-matching rows pass through untouched.

    ``timezones`` consumes config ``timezone(id=.. offset=..)``
    objects (ref: runtime/timezones.c glblProcessTimezone;
    datetime.c:685-703 applies the table during the TZSTRING parse):
    a recognized abbreviation after the timestamp converts the wall
    time to UTC by subtracting its offset; unrecognized strings are
    ignored like the reference ("invalid TZ string -- ignored").
    When the frame carries ``timereported``, a parsed cisco_time
    replaces it (the reference parser sets the message timestamp)."""
    m = F.col(msg_col)
    fac = F.regexp_extract(m, _CISCO_RE, 4)
    matched = fac != ""
    ts_txt = F.regexp_extract(m, _CISCO_RE, 2)
    ts = F.when(matched & (ts_txt != ""), _cisco_ts(ts_txt))
    if timezones:
        tz_txt = F.regexp_extract(m, _CISCO_RE, 3)
        # declared-table lookup compiled to a CASE over offsets;
        # "+HH:MM" means local = UTC+offset, so UTC = wall - offset
        off_min = F.lit(None).cast("int")
        for tzid, offset in timezones.items():
            sign = -1 if str(offset).startswith("-") else 1
            hh, mm = str(offset).lstrip("+-").split(":")
            off_min = F.when(tz_txt == tzid,
                             F.lit(sign * (int(hh) * 60 + int(mm)))
                             ).otherwise(off_min)
        ts = F.when(off_min.isNotNull(),
                    ts - F.make_interval(mins=off_min)).otherwise(ts)
    out = (
        df.withColumn(
            "cisco_seq",
            F.when(matched,
                   F.nullif(F.regexp_extract(m, _CISCO_RE, 1), F.lit(""))
                   .cast("long")),
        )
        .withColumn("cisco_facility", F.when(matched, fac))
        .withColumn(
            "cisco_severity",
            F.when(matched, F.regexp_extract(m, _CISCO_RE, 5).cast("int")),
        )
        .withColumn(
            "cisco_mnemonic",
            F.when(matched, F.regexp_extract(m, _CISCO_RE, 6)),
        )
        .withColumn("cisco_time", ts)
    )
    if "timereported" in df.columns:
        out = out.withColumn(
            "timereported",
            F.coalesce(F.col("cisco_time"), F.col("timereported")))
    return out.withColumn(
        msg_col,
        F.when(matched, F.regexp_extract(m, _CISCO_RE, 7)).otherwise(m),
    )


# LEEF: "LEEF:ver|vendor|product|productVersion|eventID|k=v<delim>..."
# (ref: plugins/mmleefparse/mmleefparse.c:110-310; cookie "LEEF:",
# default extension delimiter TAB)
_LEEF_HDR = r"^LEEF:([^|]*)\|([^|]*)\|([^|]*)\|([^|]*)\|([^|]*)\|(.*)$"


def mmleefparse(
    df: DataFrame, msg_col: str = "msg", delimiter: str = "\t",
    prefix: str = "leef_",
) -> DataFrame:
    """Parse LEEF payloads: header fields become typed columns
    (``leef_version/vendor/product/product_version/event_id``) and the
    delimiter-separated ``k=v`` extensions a ``leef_fields`` map —
    the Spark shape of the reference's ``header``/``fields`` JSON
    subtree. Non-LEEF rows: NULL columns, ``parsesuccess`` semantics
    preserved via ``leef_matched``."""
    m = F.col(msg_col)
    matched = m.rlike("^LEEF:")
    ext = F.regexp_extract(m, _LEEF_HDR, 6)
    pairs = F.filter(F.split(ext, re.escape(delimiter)),
                     lambda kv: kv.contains("="))
    # value = remainder after first '=' (values may contain '=')
    fields = F.map_from_entries(F.transform(pairs, lambda kv: F.struct(
        F.substring_index(kv, "=", 1).alias("key"),
        F.substr(kv, F.length(F.substring_index(kv, "=", 1)) + 2)
        .alias("value"),
    )))
    def hdr(i):
        return F.when(matched, F.regexp_extract(m, _LEEF_HDR, i))
    return (
        df.withColumn(prefix + "version", hdr(1))
        .withColumn(prefix + "vendor", hdr(2))
        .withColumn(prefix + "product", hdr(3))
        .withColumn(prefix + "product_version", hdr(4))
        .withColumn(prefix + "event_id", hdr(5))
        .withColumn(prefix + "fields", F.when(matched, fields))
        .withColumn(prefix + "matched", matched)
    )


def pmsnare(df: DataFrame, msg_col: str = "msg") -> DataFrame:
    """Snare cleanup (ref: contrib/pmsnare/pmsnare.c): Snare agents
    send ``hostname<tab>MSWinEventLog<tab>...`` (non-syslog mode) or a
    3164 header whose tag is followed by a tab. The reference rewrites
    the offending tab to a space so the normal parser chain succeeds;
    we do the same rewrite and flag the rows."""
    m = F.col(msg_col)
    is_snare = m.rlike(r"^[^\t ]+\t") | m.rlike(r"^\S+\[?\d*\]?:?\t")
    fixed = F.when(is_snare, F.regexp_replace(m, r"\t", " ")).otherwise(m)
    return df.withColumn("snare_detected", is_snare) \
             .withColumn(msg_col, fixed)


def pmaixforwardedfrom(df: DataFrame, msg_col: str = "msg",
                       hostname_col: str = "hostname") -> DataFrame:
    """AIX mangled-forward cleanup (ref: contrib/pmaixforwardedfrom/
    pmaixforwardedfrom.c:69-104): strip the ``Message forwarded from
    <host>: `` wrapper and restore the real source hostname."""
    m = F.col(msg_col)
    pat = r"^Message forwarded from (\S+?):? (.*)$"
    host = F.regexp_extract(m, pat, 1)
    matched = m.startswith("Message forwarded from ") & (host != "")
    return (
        df.withColumn(hostname_col,
                      F.when(matched, host).otherwise(F.col(hostname_col)))
        .withColumn(msg_col,
                    F.when(matched, F.regexp_extract(m, pat, 2))
                    .otherwise(m))
    )


def pmcisconames(df: DataFrame, msg_col: str = "msg",
                 hostname_col: str = "hostname") -> DataFrame:
    """Cisco-names cleanup (ref: contrib/pmcisconames/pmcisconames.c):
    messages shaped ``Mmm dd [yyyy ]HH:MM:SS <name> : %MNEMONIC...``
    carry the device name between timestamp and the ``: %`` marker;
    promote it to hostname and strip it from the body."""
    m = F.col(msg_col)
    pat = (r"^\s*([A-Z][a-z]{2} [ 0-9]\d(?: \d{4})? \d{2}:\d{2}:\d{2})"
           r" (\S+) : (%.*)$")
    name = F.regexp_extract(m, pat, 2)
    matched = name != ""
    return (
        df.withColumn(hostname_col,
                      F.when(matched, name).otherwise(F.col(hostname_col)))
        .withColumn(msg_col,
                    F.when(matched, F.regexp_extract(m, pat, 3))
                    .otherwise(m))
    )


# split commas NOT inside double quotes (quote-aware CSV, the state
# machine of ref contrib/pmpanngfw/pmpanngfw.c:55-140 as one regex)
_CSV_SPLIT = r',(?=(?:[^"]*"[^"]*")*[^"]*$)'


def pmpanngfw(df: DataFrame, msg_col: str = "msg") -> DataFrame:
    """Palo Alto Networks NGFW cleanup (ref: contrib/pmpanngfw/
    pmpanngfw.c): PAN-OS bodies are quoted CSV whose 4th field is the
    log type (TRAFFIC/THREAT/CONFIG/SYSTEM). The reference rewrites
    the delimiters to tabs for downstream field extraction; we emit
    the quote-aware field array (``pan_fields``), the detected type
    (``pan_type``), and the tab-rewritten msg."""
    m = F.col(msg_col)
    fields = F.split(m, _CSV_SPLIT)
    ftype = F.try_element_at(fields, F.lit(4))
    matched = ftype.isin("TRAFFIC", "THREAT", "CONFIG", "SYSTEM")
    return (
        df.withColumn("pan_fields", F.when(matched, fields))
        .withColumn("pan_type", F.when(matched, ftype))
        .withColumn(msg_col,
                    F.when(matched, F.concat_ws("\t", fields)).otherwise(m))
    )


def pmdb2diag(
    df: DataFrame, msg_col: str = "msg",
    timeformat: str = "yyyy-MM-dd-HH.mm.ss.SSSSSS",
) -> DataFrame:
    """DB2 diagnostic-log parse (ref: contrib/pmdb2diag/pmdb2diag.c:
    96-176): fixed-position level token after the header, PID after
    the first ':' past the level, program from the PID-shift. We parse
    the documented layout ``<ts><tz> <recno> LEVEL: ... PID : <pid>
    ... PROG : <prog>`` with regexes (positions vary too much across
    DB2 versions for byte offsets to be the Spark-side contract)."""
    m = F.col(msg_col)
    ts = F.regexp_extract(m, r"^(\d{4}-\d{2}-\d{2}-\d{2}\.\d{2}\.\d{2}\.\d+)", 1)
    level = F.regexp_extract(
        m, r"\b(CRITICAL|SEVERE|ERROR|WARNING|EVENT|INFO|DEBUG)\b", 1)
    pid = F.regexp_extract(m, r"PID\s*:\s*(\d+)", 1)
    tid = F.regexp_extract(m, r"TID\s*:\s*(\d+)", 1)
    prog = F.regexp_extract(m, r"PROC\s*:\s*(\S+)", 1)
    matched = (ts != "") & (level != "")
    sev_map = {"CRITICAL": 2, "SEVERE": 3, "ERROR": 3, "WARNING": 4,
               "EVENT": 5, "INFO": 6, "DEBUG": 7}
    sev = F.lit(None).cast("int")
    for k, v in sev_map.items():
        sev = F.when(level == k, F.lit(v)).otherwise(sev)
    return (
        df.withColumn("db2_time",
                      F.when(matched, F.try_to_timestamp(
                          ts, F.lit(timeformat))))
        .withColumn("db2_level", F.when(matched, level))
        .withColumn("db2_severity", F.when(matched, sev))
        .withColumn("db2_pid", F.when(matched & (pid != ""),
                                      pid.cast("long")))
        .withColumn("db2_tid", F.when(matched & (tid != ""),
                                      tid.cast("long")))
        .withColumn("db2_proc", F.when(matched & (prog != ""), prog))
    )


def pmnull(df: DataFrame, line_col: str = "line",
           tag: str = "", hostname_col: str | None = None) -> DataFrame:
    """pmnull (ref: plugins/pmnull): accept everything verbatim — the
    whole line becomes msg; PRI defaults to 13 (user.notice) unless a
    leading <PRI> is present."""
    line = F.col(line_col)
    pri_s = F.regexp_extract(line, r"^<(\d{1,3})>", 1)
    pri = F.when(
        (pri_s != "") & (pri_s.cast("int") <= 191), pri_s.cast("int")
    ).otherwise(F.lit(13))
    body = F.regexp_replace(line, r"^<\d{1,3}>", "")
    return df.select(
        *[c for c in df.columns if c != line_col],
        line.alias("rawmsg"),
        body.alias("msg"),
        pri.alias("pri"),
        (pri / 8).cast("int").alias("syslogfacility"),
        (pri % 8).cast("int").alias("syslogseverity"),
        F.lit(tag).alias("syslogtag"),
        (F.col(hostname_col) if hostname_col else F.lit(None).cast("string"))
        .alias("hostname"),
        # parsers never set bParseSuccess (msg.c:2183)
        F.lit(False).alias("parsesuccess"),
    )


def pmnormalize(df: DataFrame, rulebase: str,
                line_col: str = "line", **kw) -> DataFrame:
    """pmnormalize (ref: plugins/pmnormalize/pmnormalize.c): the
    liblognorm rulebase applied as a PARSER over the raw line instead
    of as a message-modification stage — same compiler
    (operators/normalize.py), different position in the chain."""
    from rsyslog_spark.operators.normalize import normalize

    return normalize(df, rulebase, msg_col=line_col, **kw)


#: single-space ``Key: value`` boundary (parse_key_value_sequence,
#: mmsnareparse.c:3965-4045): a new key starts at whitespace followed
#: by an uppercase-initial single alnum word ending in ':' — used as
#: a SECONDARY split for Sysmon-style descriptions where pairs are
#: single-space separated (mmsnareparse-sysmon.sh)
_SNARE_KVRX = r"\s+(?=[A-Z][A-Za-z0-9]*:(\s|$))"


def _snare_lit_map(d: dict[str, str]):
    """Literal lookup map. Memoized by CONTENT (r11 perf): the
    routing tables are rebuilt as fresh dicts on every mmsnareparse
    invocation, and each entry costs two Py4J ``F.lit`` round-trips —
    several hundred per map. The Column tree is a pure function of
    the items, so repeat invocations in one session reuse it."""
    return _snare_lit_map_items(tuple(d.items()))


@_memo_column_factory
def _snare_lit_map_items(items: tuple):
    cols = []
    for k, v in items:
        cols += [F.lit(k), F.lit(v)]
    return F.create_map(*cols) if cols else None


def _snare_route_maps(fields):
    """Compile a field-pattern list into the three lookup maps of
    select_field_pattern (mmsnareparse.c:3472), with the resolution
    ORDER folded in at PLAN TIME so each entry costs two map probes:

    - ``msec``  — "sec\\0key" → route: section-specific patterns,
      matched against the entry's lexical section (highest rank).
    - ``m_insec`` — key → route inside any section: generic pattern
      ('~' = stay in the lexical section) else fallback-to-pattern's
      -own-section (the Kerberos escape).
    - ``m_root`` — key → route at Root: generic → EventData, else
      the EventData-section preference, else fallback.

    Ties keep the FIRST row (the C scan replaces only on
    strictly-greater priority)."""
    msec, msec_p = {}, {}
    mgen, mgen_p = {}, {}
    medp = {}
    mfall, mfall_p = {}, {}
    for canon, vt, sec, prio in fields:
        if sec is None:
            if prio > mgen_p.get(canon, -10**9):
                mgen[canon] = f"~|{vt}"
                mgen_p[canon] = prio
            continue
        key = f"{sec}\x00{canon}"
        if prio > msec_p.get(key, -10**9):
            msec[key] = f"{sec}|{vt}"
            msec_p[key] = prio
        if sec == "EventData" and canon not in medp:
            medp[canon] = f"EventData|{vt}"
        if prio > mfall_p.get(canon, -10**9):
            mfall[canon] = f"{sec}|{vt}"
            mfall_p[canon] = prio
    m_insec, m_root = {}, {}
    for k in set(mgen) | set(mfall) | set(medp):
        m_insec[k] = mgen.get(k) or mfall[k]
        if k in mgen:
            m_root[k] = "EventData|" + mgen[k].split("|")[1]
        elif k in medp:
            m_root[k] = medp[k]
        else:
            m_root[k] = mfall[k]
    return msec, m_insec, m_root


# value-validation regexes (is_guid_format mmsnareparse.c:816,
# is_ip_address :854 — v6 approximated, is_iso8601_timestamp :898
# — day-in-month approximated to 31, is_windows_event_timestamp :976)
_SN_GUID_RX = (r"^(\{[0-9A-Fa-f]{8}(-[0-9A-Fa-f]{4}){3}"
               r"-[0-9A-Fa-f]{12}\}|[0-9A-Fa-f]{8}"
               r"(-[0-9A-Fa-f]{4}){3}-[0-9A-Fa-f]{12})$")
_SN_IP4_RX = (r"^((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
              r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)$")
_SN_IP6_RX = (r"^(([0-9A-Fa-f]{1,4}:){2,7}[0-9A-Fa-f]{0,4}"
              r"|::([0-9A-Fa-f]{1,4}:)*[0-9A-Fa-f]{0,4})$")
_SN_ISO_RX = (r"^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])"
              r"T([01]\d|2[0-3]):[0-5]\d:([0-5]\d|60)(\.\d+)?"
              r"([Zz]|[+-]([01]\d|2[0-3])(:?[0-5]\d)?)\s*$")
_SN_WIN_RX = (r"^(Mon|Tue|Wed|Thu|Fri|Sat|Sun) "
              r"(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
              r" {1,2}([1-9]|[12]\d|3[01]) ([01]\d|2[0-3]):[0-5]\d"
              r":([0-5]\d|60) \d{4}$")


def _snare_jq(c: Column) -> Column:
    """JSON-quote a string value: '"escaped"' (via to_json of a
    1-element array with the brackets trimmed — exact JSON escaping,
    JVM-side). btrim references the to_json child ONCE — the previous
    substr(2, length(j)-2) form held two copies of the subtree, and
    interpreted HOF eval (no CSE) ran to_json twice per value. The
    escaped payload always sits between '["' and '"]', so btrim
    cannot eat value bytes."""
    return F.btrim(F.to_json(F.array(c)), F.lit("[]"))


# ---- Python description tokenizer (guide §4.2/§4.3) ---------------
# The snare description tokenizer + per-token classifier is the
# registry's cost outlier when written as higher-order Column fns:
# those evaluate interpreted (no codegen, no common-subexpression
# elimination), and the pass-1 fold's look-ahead rebuilds the
# remaining line per word (O(words²) string bytes). Plain Python with
# COMPILED regexes and an offset-based look-ahead is O(line) per row
# and ~30-60 µs/row; it crosses the JVM↔Python boundary as Arrow
# batches (useArrow=True, ArrowEvalPython — a documented escape
# hatch, see tools/plan_audit).
# The regexes keep Java-regex semantics (the goldens were pinned under
# them) by translation: Java `.` excludes all five line terminators
# (Python's only \n), Java `$` also matches before a FINAL terminator,
# Java `\s` is the ASCII five; Spark trim/ltrim/rtrim strip 0x20 ONLY
# (verified empirically — not \t/\n).
_J_DOT = r"[^\n\r  ]"
_J_EOL = r"(?=(?:\r\n|[\n\r  ])?\Z)"
# NB: _J_DOT/_J_EOL embed the three non-ASCII Java line terminators
# (U+0085 NEL, U+2028 LS, U+2029 PS) as literal characters.
_J_WS = r"[ \t\n\x0B\f\r]"
_SN_LINES_RX = re.compile(r" {3,}")
# no ^ anchor: probed with .match(rest, offset), which anchors at the
# offset — a literal ^ would FAIL at any offset > 0 in Python re
_SN_LABEL_RX = re.compile(r"[A-Z][A-Za-z0-9 /()#-]*:")
_SN_OVER_SPLIT_RX = re.compile(_J_WS + r"+(?=[A-Z][A-Za-z0-9]*:)")
_SN_OVER_OK_RX = re.compile(r"^[A-Z][A-Za-z0-9]*: +[^" + _J_WS[1:-1]
                            + r"]")
_SN_COMPLETE_RX = re.compile(r":" + _J_DOT + r"*[^ :]")
_SN_INL_RX = re.compile(r"^[A-Za-z][^:]*: +[^" + _J_WS[1:-1] + r"]")
_SN_KO_RX = re.compile(r"^[A-Za-z][^:]*:" + _J_EOL)
_SN_KEY0_RX = re.compile(r"^([^:]*):")
_SN_IV_RX = re.compile(r"^[^:]*:" + _J_WS + r"*(" + _J_DOT + r"*)"
                       + _J_EOL)
_SN_PAREN_RX = re.compile(_J_WS + r"*\([^)]*\)")
_SN_NONALNUM_RX = re.compile(r"[^A-Za-z0-9]+")
_SN_NAME_RX = re.compile(r":" + _J_EOL)


def _snare_tokenize_py(desc: str, std_secs: tuple) -> list:
    """mmsnareparse description tokenize+classify → one
    ``_SNARE_TOKS_SCHEMA`` struct per token.

    C-faithful tokenization (verified against a compiled extract of
    the reference's tokenize_on_multispace):
      1. runs of 3+ spaces separate logical LINES
         (normalize_description mmsnareparse.c:4208-4246);
      2. each line splits at its FIRST colon into header + rest
         (parse_line :4323); the header re-attaches as a 'Key:'
         token so the section walk sees it (prose prefixes before an
         embedded section header ride along — the suffix match
         handles '...logged on. Subject:');
      3. the rest tokenizes like tokenize_on_multispace (:687): a
         2-space run delimits unless it directly follows the colon
         (the 'Key:  value' form), ANY space delimits when the text
         ahead looks like a label (looks_like_label_start :671 —
         uppercase start, [A-Za-z0-9 /()#-]* up to a colon), and NO
         delimiter applies until the current token carries a
         complete 'key: value' (tokenSawColon/tokenHasValue);
      4. a pass-2 overlay (parse_key_value_sequence's single-word-key
         scan, mmsnareparse.c:3960-4050) re-pairs single-space runs
         where a value legitimately contains ' WORD ' before the next
         label ('User: CORP\\NETWORK | SERVICE Hashes: ...');
         json_object_object_add REPLACE semantics make it win.
         Overlay tokens ride flagged (ov) after the line's pass-1
         tokens: keep-LAST dedup reproduces the overwrite, and the
         ParsingStats counter excludes them (the reference's own
         test expectations — mmsnareparse-enhanced-validation.sh
         total_fields=25 — count the pass-1 dispatches only).

    Each token then gets its section canonical (exact or trailing-*
    wildcard header match against ``std_secs``,
    section_pattern_matches mmsnareparse.c:2825), inline / key-only
    flags, cleaned key (normalize_label :1057: parenthesised runs
    drop, non-alphanumerics collapse) and inline value. Pinned by the
    rsyslog reference-replay goldens and
    test_mmsnareparse_tokenizer_hostile_goldens."""
    out = []
    for line in _SN_LINES_RX.split(desc or ""):
        pos = line.find(":") + 1
        if pos > 0:
            toks = [line[:pos].strip(" ")]
            rest = line[pos:].lstrip(" ")
            # pass 1: tokenize_on_multispace fold. The look-ahead
            # ("does a label start at this word?") probes `rest` at
            # the word's offset — identical to joining the remaining
            # words with single spaces, since the words were split on
            # single spaces.
            words = rest.split(" ")
            cur, sep, off = "", 0, 0
            for w in words:
                lab = _SN_LABEL_RX.match(rest, off) is not None
                off += len(w) + 1
                sep += 1
                if w == "":
                    continue
                complete = _SN_COMPLETE_RX.search(cur) is not None
                delim = (((sep >= 2 and not cur.endswith(":"))
                          or lab) and complete)
                if delim:
                    if cur != "":
                        toks.append(cur)
                    cur = w
                else:
                    cur = w if cur == "" else cur + " " * sep + w
                sep = 0
            if cur != "":
                toks.append(cur)
            # pass-2 overlay: single-word-key re-pair, keep-LAST via
            # the \x01 flag downstream
            for part in _SN_OVER_SPLIT_RX.split(rest):
                if _SN_OVER_OK_RX.search(part):
                    toks.append("\x01" + part)
        else:
            toks = [line.strip(" ")]
        for t0 in toks:
            if t0 == "":
                continue
            ov = t0.startswith("\x01")
            t = t0[1:] if ov else t0
            if t == "":
                continue
            name = _SN_NAME_RX.sub("", t)
            ends = t.endswith(":") and not ov
            inl = _SN_INL_RX.search(t) is not None
            ko0 = (not ov) and _SN_KO_RX.search(t) is not None
            sec = None
            if ends:
                for pat, canon in std_secs:
                    if pat.endswith("*"):
                        if name.lower().startswith(pat[:-1].lower()):
                            sec = canon
                            break
                    elif name == pat or name.endswith(" " + pat):
                        sec = canon
                        break
            if inl:
                m = _SN_KEY0_RX.search(t)
                key0 = m.group(1) if m else ""
            elif ko0:
                key0 = name.rstrip(" ")
            else:
                key0 = None
            k = (_SN_NONALNUM_RX.sub(
                "", _SN_PAREN_RX.sub("", key0))
                if key0 is not None else None)
            if inl:
                m = _SN_IV_RX.search(t)
                iv = m.group(1) if m else ""
            else:
                iv = None
            out.append((t, ov, sec,
                        inl and sec is None, ko0 and sec is None,
                        k, iv))
    return out


_SNARE_TOKS_SCHEMA = ("array<struct<t:string,ov:boolean,sec:string,"
                      "inl:boolean,ko:boolean,k:string,iv:string>>")


def mmsnareparse(df: DataFrame, msg_col: str = "msg", *,
                 ignore_trailing_pattern: str | None = None,
                 ignore_trailing_regex: str | None = None,
                 search_window: int = 256,
                 definition=None,
                 validation_mode: str = "permissive") -> DataFrame:
    """Structured Snare/NXLog Windows-event parser (ref: plugins/
    mmsnareparse/mmsnareparse.c): tab header → ``$!win!Event`` (with
    the builtin EventID→Category/Subtype/Outcome table), description
    sections → per-section containers, every Key/Value routed through
    the core + event-specific + custom field-pattern tables (section
    escape, e.g. TicketOptions → ``$!win!Kerberos``), typed values
    (int64/bool/guid/ip/timestamp — validation failures store the raw
    string and record ``$!win!Validation!Errors``), placeholder
    values dropped, LAPS Context k=v, Remote Credential Guard →
    ``$!win!Logon``, LogonType canonicalization.

    The tab-separated Snare payload after ``MSWinEventLog``:
    criticality, Channel, counter, date, EventID, SourceName, user,
    sidtype, EventLogType, Computer, Category, <reserved>,
    description, checksum. The DESCRIPTION tokenizes on 2+-space
    runs; tokens carrying 3+ single-space ``Key: value`` pairs
    (Sysmon style) are sub-split on the single-space key boundary
    (parse_key_value_sequence). A tab-free payload (the value-types
    samples) walks the whole text after ``MSWinEventLog`` — header
    words are bare tokens and drop out of the pair walk naturally.

    ``definition`` loads a custom table set (path / JSON text /
    dict — ``definition.file`` / ``definition.json``);
    ``ignore_trailing_pattern`` cuts the trailing extra-data tab
    token to ``$!extradata_section`` before parsing;
    ``validation_mode`` is accepted for config parity (strict-mode
    message rejection is not modeled — errors always record and
    values fall back, the reference's permissive default).

    Scale: the description tokenizer is an O(line) Arrow Python UDF
    (_snare_tokenize_py); everything else is column ops — the
    section walk is an O(tokens²) higher-order-function scan per row
    bounded by the event text, and the routed-entry array is
    MATERIALIZED once so the ~300-literal routing maps appear a
    single time in the plan.
    """
    from rsyslog_spark.expr import rs_str
    from rsyslog_spark.parsers.snare_tables import (
        SNARE_BUILTIN_SECTIONS, SNARE_CORE_FIELDS, SNARE_EVENTS,
        SNARE_EVENT_FIELDS, SNARE_LOGON_TYPES, SNARE_PLACEHOLDERS,
        load_snare_definitions)

    defs = load_snare_definitions(definition) if definition else None
    sections = list(SNARE_BUILTIN_SECTIONS)
    fields = list(SNARE_CORE_FIELDS)
    event_fields = {k: list(v) for k, v in SNARE_EVENT_FIELDS.items()}
    events = dict(SNARE_EVENTS)
    if defs:
        sections += defs["sections"]
        fields += defs["fields"]
        for eid, rows in defs["event_fields"].items():
            event_fields[eid] = rows + event_fields.get(eid, [])
        events.update(defs["events"])

    m = rs_str(F.col(msg_col))
    # the Snare marker may have been eaten by the HEADER parse (a
    # 3164 TAG 'MSWinEventLog' followed by a tab) — fall back to the
    # raw line from the marker on, like the reference's marker search
    if "rawmsg" in df.columns:
        raw = rs_str(F.col("rawmsg"))
        m = F.when(m.contains("MSWinEventLog"), m).otherwise(
            F.when(raw.contains("MSWinEventLog"),
                   F.expr("substring(rawmsg, "
                          "locate('MSWinEventLog', rawmsg))"))
            .otherwise(m))
    out = df
    if ignore_trailing_pattern or ignore_trailing_regex:
        # with-tabs path (detect_and_truncate_trailing_extradata:
        # mmsnareparse.c:5176-5243): the pattern must appear in the
        # LAST tab token — that WHOLE token becomes
        # $!extradata_section and the message truncates AT the last
        # tab. The search is bounded to the trailing searchWindow
        # bytes of the token: static patterns strstr within that
        # window; regex patterns run against the window-truncated
        # PREFIX with REG_NOTEOL when truncation happened, so an
        # end-anchored pattern cannot treat the window boundary as
        # end-of-token (golden
        # mmsnareparse-trailing-extradata-regex-anchor.sh:
        # '^[0-9]+$' window 3 must NOT match '123abc'). NOTEOL is
        # emulated by appending a NUL sentinel to a truncated
        # prefix — '$' then has no digit before end-of-input.
        # (The reference's tab-FREE fallback — last-20%% heuristic
        # truncation — is not modeled; Snare payloads are tabbed.)
        win = max(1, int(search_window))
        last_tok = F.element_at(F.split(m, "\t"), -1)
        tok_len = F.length(last_tok)
        if ignore_trailing_regex:
            from rsyslog_spark.functions.strings import (
                posix_ere_to_java)
            bounded = F.substring(last_tok, 1, win)
            probe = F.when(
                tok_len > win,
                F.concat(bounded, F.lit("\x00"))).otherwise(last_tok)
            has = probe.rlike(posix_ere_to_java(
                ignore_trailing_regex))
        else:
            tailw = F.when(tok_len > win,
                           last_tok.substr(tok_len - win + 1, F.lit(win))) \
                .otherwise(last_tok)
            has = F.locate(ignore_trailing_pattern, tailw) > 0
        out = out.withColumn("cee_extradata_section",
                             F.when(has, last_tok).alias(
                                 "cee_extradata_section",
                                 metadata={"rs_path":
                                           "$!extradata_section"}))
        m = F.when(has, m.substr(
            F.lit(1), F.length(m) - F.length(last_tok) - 1)) \
            .otherwise(m)

    # MATERIALIZE the message + its tab split: fld() is referenced
    # ~15x (event fields, desc, event-id routing) and an inline
    # `split(m, tab)` expression re-splits the full message at EVERY
    # reference (jstack showed all workers in UTF8String.split — this
    # was ~40s of fixed wall per query at sf0.1)
    out = out.withColumn("__snare_m", m)
    m = F.col("__snare_m")
    out = out.withColumn("__snare_tabs", F.split(m, "\t"))
    tabs = F.col("__snare_tabs")
    base = F.array_position(tabs, "MSWinEventLog").cast("int")
    ok = base > 0

    def fld(off: int):
        return F.when(ok, F.element_at(tabs, base + off))

    event_id = fld(5)
    source = fld(6)
    # event id as int, materialized — consulted per ENTRY by the
    # event-specific routing maps
    _eid_t = F.trim(F.coalesce(event_id, F.lit("")))
    out = out.withColumn(
        "__snare_eid",
        F.when(_eid_t.rlike(r"^\d{1,9}$"), _eid_t).cast("int"))
    eid_i = F.col("__snare_eid")

    # EventID → Category/Subtype/Outcome (apply_event_mapping,
    # mmsnareparse.c:3851; outcome falls back to derive_outcome over
    # the audit-result token :3765)
    mcat = _snare_lit_map({str(k): v[0] for k, v in events.items()
                           if v[0]})
    msub = _snare_lit_map({str(k): v[1] for k, v in events.items()
                           if v[1]})
    mout = _snare_lit_map({str(k): v[2] for k, v in events.items()
                           if v[2]})
    audit = F.lower(F.coalesce(fld(9), F.lit("")))
    derived = (F.when(audit.contains("success"), "success")
               .when(audit.contains("fail"), "failure")
               .when(audit.contains("error"), "error")
               .when(audit.contains("warning"), "warning")
               .when(audit.contains("information"), "information"))
    ev_key = F.trim(F.coalesce(event_id, F.lit("")))
    # TimeCreated.Normalized: the event time normalized to ISO8601
    # (mmsnareparse.c time normalization; mmsnareparse-json.sh
    # '"timecreatednormalized":"2025-02-18T06:42:17...')
    tnorm = (F.date_format("timereported",
                           "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
             if "timereported" in df.columns
             else F.lit(None).cast("string"))
    event_obj = F.to_json(F.struct(
        event_id.alias("EventID"),
        F.struct(tnorm.alias("Normalized")).alias("TimeCreated"),
        fld(2).alias("Channel"),
        fld(3).alias("SnareCounter"),
        fld(9).alias("EventLogType"),
        # reference spellings exposed by mmsnareparse-syslog.sh:
        # EventType (= the Snare audit-type field) and CategoryText
        fld(9).alias("EventType"),
        # the reference's key is Provider (populate_event_metadata
        # mmsnareparse.c:4698, placeholder-gated) — there is no
        # SourceName key in its output
        F.when(~F.lower(F.trim(F.coalesce(source, F.lit("-"))))
               .isin(*SNARE_PLACEHOLDERS), source).alias("Provider"),
        fld(10).alias("Computer"),
        # Category comes ONLY from the event mapping — the tab field
        # populates CategoryText (apply_event_mapping :3854)
        (F.element_at(mcat, ev_key) if mcat is not None
         else F.lit(None).cast("string")).alias("Category"),
        fld(11).alias("CategoryText"),
        (F.element_at(msub, ev_key) if msub is not None
         else F.lit(None).cast("string")).alias("Subtype"),
        F.coalesce(F.element_at(mout, ev_key) if mout is not None
                   else F.lit(None).cast("string"),
                   derived).alias("Outcome"),
    ))
    # tab-free payloads (mmsnareparse-value-types.sh samples) walk
    # the whole text after MSWinEventLog: header words become bare
    # tokens and drop out of the pair walk
    # descriptions may span multiple tab tokens: the reference joins
    # tokens[descriptionIdx..end] with single spaces, skipping
    # placeholder tokens (parse_snare_text concat loop,
    # mmsnareparse.c:4862-4895). A NON-numeric token in the checksum
    # slot therefore folds INTO the description (golden
    # mmsnareparse-trailing-extradata-regex-anchor.sh expects
    # 'User: NT AUTHORITY\\SYSTEM 123abc'), while a real numeric
    # checksum lands after the description's trailing spaces as a
    # bare 2+-space token and drops out of the pair walk
    tail_toks = F.slice(
        tabs, base + 13,
        F.greatest(F.size(tabs) - (base + 12), F.lit(0)))
    joined = F.array_join(F.filter(
        tail_toks, lambda t: (t != "")
        & ~F.lower(F.trim(t)).isin(*SNARE_PLACEHOLDERS)), " ")
    desc = F.when(ok, joined) \
        .when(m.contains("MSWinEventLog"), m).otherwise(F.lit(""))

    # ---- tokenize + classify (_snare_tokenize_py) ----
    # Every token is classified ONCE into the materialized
    # __snare_toks struct array — the O(tokens²) section/consume walk
    # below then touches only cheap struct fields. Only 'std'
    # sections open a walk section; inline/semi/list headers stay
    # ordinary Key: tokens handled by their special paths below. ONLY
    # the desc string crosses to Python (guide §4.1).
    std_secs = tuple((p, c) for p, c, b in sections if b == "std")
    tok_udf = F.udf(lambda d: _snare_tokenize_py(d, std_secs),
                    _SNARE_TOKS_SCHEMA, useArrow=True)
    out = out.withColumn("__snare_toks", tok_udf(desc))
    info = F.col("__snare_toks")

    # per-token (section, key, value) — null when the token is a
    # section header or a consumed bare value. Iterates the
    # MATERIALIZED info column with transform's index arg — no
    # reference back to the raw tokenizer expressions (idx/n over
    # `toks` would re-tokenize per element: n× the split work).
    def entry_of(e, i0):
        i = i0 + F.lit(1)
        nfo = F.size(info)
        nxt = F.element_at(info, F.least(i + 1, nfo))
        prev = F.element_at(info, F.greatest(i - 1, F.lit(1)))
        consumed = prev["ko"] & (i > 1)
        # last section header at or before i (O(i), cheap fields)
        priors = F.filter(F.slice(info, 1, i),
                          lambda x: x["sec"].isNotNull())
        sec = F.when(F.size(priors) > 0,
                     F.element_at(priors, -1)["sec"]) \
            .otherwise(F.lit("Root"))
        nxt_keyish = nxt["inl"] | nxt["ko"] | nxt["sec"].isNotNull()
        val = F.when(e["inl"], e["iv"]) \
            .when(e["ko"] & (i < nfo) & ~nxt_keyish, nxt["t"]) \
            .when(e["ko"], F.lit(""))
        return F.when(
            (e["inl"] | e["ko"]) & ~consumed,
            F.struct(sec.alias("sec"), e["k"].alias("k"),
                     F.coalesce(val, F.lit("")).alias("v"),
                     e["ov"].alias("ov")))

    # MATERIALIZE the token-walk result as one column: every section
    # container references it, and inlining the O(tokens²) walk into
    # each of the ~25 container expressions multiplied the plan tree
    # (minutes of analyzer time per query)
    out = out.withColumn(
        "__snare_entries",
        F.filter(F.transform(info, entry_of),
                 lambda e: e.isNotNull()))
    entries = F.col("__snare_entries")

    # ---- field routing (select_field_pattern mmsnareparse.c:3472:
    # section-match > generic > root-EventData-preference > fallback
    # to the pattern's own section; event-specific tables override).
    # Resolution order is folded into the maps at plan time — two
    # probes per entry (plus the tiny per-event maps when active).
    msec_d, insec_d, root_d = _snare_route_maps(fields)
    m_sec = _snare_lit_map(msec_d)
    m_insec = _snare_lit_map(insec_d)
    m_root = _snare_lit_map(root_d)
    ev_maps = {}
    for eid, rows in event_fields.items():
        es, ei, er = _snare_route_maps(rows)
        ev_maps[eid] = (_snare_lit_map(es), _snare_lit_map(ei),
                        _snare_lit_map(er))

    lt_map = _snare_lit_map(SNARE_LOGON_TYPES)
    _none = F.lit(None).cast("string")

    def _elem(mp, key):
        return F.element_at(mp, key) if mp is not None else _none

    def route_of(sec, k):
        seckey = F.concat(sec, F.lit("\x00"), k)
        is_root = sec == "Root"
        # event-specific override first (NOTE: with the shipped
        # tables no event-table key collides with a core GENERIC
        # pattern, so the C's generic-beats-event-fallback nuance
        # cannot change an answer here)
        parts = []
        for eid, (es, ei, er) in ev_maps.items():
            hit = F.coalesce(
                _elem(es, seckey),
                F.when(is_root, _elem(er, k))
                .otherwise(_elem(ei, k)))
            parts.append(F.when(eid_i == eid, hit))
        return F.coalesce(
            *parts,
            _elem(m_sec, seckey),
            F.when(is_root, _elem(m_root, k))
            .otherwise(_elem(m_insec, k)),
            F.lit("~|str"))

    # PERF (r11, measured): HOF lambdas evaluate interpreted with NO
    # common-subexpression elimination, so referencing `vt`/`target0`
    # from a route_of() call inside one lambda re-evaluates the FULL
    # route coalesce (per-event tables + 3 map probes) at every use —
    # ~15 route evaluations per entry in the previous single-pass
    # form. The route string is materialized ONCE per entry in a
    # first transform pass; the typed-value pass then reads it back
    # with cheap split_parts on the stored field. Placeholder values
    # and the separately-parsed LAPSContext key are dropped BEFORE
    # routing so they never pay the map probes at all.
    def _route_info(e):
        return F.struct(
            e["sec"].alias("sec"), e["k"].alias("k"),
            e["v"].alias("v"), e["ov"].alias("ov"),
            route_of(e["sec"], e["k"]).alias("rt"))

    def routed_of(e):
        sec, k, v = e["sec"], e["k"], e["v"]
        route = e["rt"]
        target0 = F.split_part(route, F.lit("|"), F.lit(1))
        vt = F.split_part(route, F.lit("|"), F.lit(2))
        target = F.when(target0 == "~",
                        F.when(sec == "Root", F.lit("EventData"))
                        .otherwise(sec)).otherwise(target0)
        # special targets: RCG → $!win!Logon (inline-section
        # behavior, handle_inline_remote_credential_guard);
        # Privileges list → PrivilegeList; LAPS handled separately
        target = F.when(vt == "rcg", F.lit("Logon")) \
            .when(vt == "priv", F.lit("Privileges")) \
            .otherwise(target)
        lv = F.lower(v)
        # strtoll(base 0) semantics (try_parse_int64 mmsnareparse.c:
        # 3382): a leading decimal or 0x-hex literal parses even when
        # SPACE-separated trailing text follows ('Key Length: 0 1' —
        # the joined snare counter — stores 0, no error); the
        # trailing check only rejects a non-space char glued to the
        # number. Octal interpretation of leading zeros is not
        # modeled (decimal instead).
        num_pre = F.regexp_extract(v, r"^([+-]?\d{1,18})(?:\s.*)?$", 1)
        hex_pre = F.regexp_extract(
            v, r"^(?:\+?)0[xX]([0-9a-fA-F]{1,15})(?:\s.*)?$", 1)
        num_ok = (num_pre != "") | (hex_pre != "")
        bool_t = lv.isin("true", "yes", "enabled", "on") | (v == "1")
        bool_f = lv.isin("false", "no", "disabled", "off") \
            | (v == "0")
        guid_ok = v.rlike(_SN_GUID_RX)
        ip_ok = v.rlike(_SN_IP4_RX) | v.rlike(_SN_IP6_RX)
        ts_ok = v.rlike(_SN_ISO_RX) | v.rlike(_SN_WIN_RX)
        err = (F.when((vt == "guid") & ~guid_ok,
                      F.concat(k, F.lit(": invalid GUID")))
               .when((vt == "ip") & ~ip_ok,
                     F.concat(k, F.lit(": invalid IP address")))
               .when((vt == "ts") & ~ts_ok,
                     F.concat(k, F.lit(": invalid timestamp")))
               .when(vt.isin("int", "intraw") & ~num_ok,
                     F.concat(k, F.lit(": expected integer")))
               .when((vt == "bool") & ~(bool_t | bool_f),
                     F.concat(k, F.lit(": expected boolean")))
               .when((vt == "logon") & ~num_ok,
                     F.concat(k, F.lit(": invalid logon type"))))
        k_out = (F.when((vt == "intraw") & ~num_ok,
                        F.concat(k, F.lit("Raw")))
                 .when(vt == "priv", F.lit("PrivilegeList"))
                 .otherwise(k))
        # ANSI-safe: the cast input is nulled when not numeric (the
        # When guard alone doesn't stop eval of the branch expr)
        ival = F.when(num_pre != "", num_pre).cast("long") \
            .cast("string")
        ival = F.coalesce(
            ival, F.when(hex_pre != "", F.conv(hex_pre, 16, 10)))
        val_json = (F.when(vt.isin("int", "intraw", "logon")
                           & num_ok, ival)
                    .when(vt.isin("bool", "rcg") & bool_t,
                          F.lit("true"))
                    .when(vt.isin("bool", "rcg") & bool_f,
                          F.lit("false"))
                    .otherwise(_snare_jq(v)))
        pj = F.concat(F.lit('"'), k_out, F.lit('":'), val_json)
        ltname = (F.element_at(lt_map, ival)
                  if lt_map is not None else F.lit(None))
        pj = F.when((vt == "logon") & num_ok & ltname.isNotNull(),
                    F.concat(pj, F.lit(',"LogonTypeName":"'),
                             ltname, F.lit('"'))).otherwise(pj)
        return F.struct(target.alias("t"), k_out.alias("k"),
                        pj.alias("pj"), err.alias("err"),
                        e["ov"].alias("ov"))

    live = F.filter(
        entries,
        lambda e: ~(F.lower(e["v"]).isin(*SNARE_PLACEHOLDERS)
                    | (e["v"] == "")) & (e["k"] != "LAPSContext"))
    out = out.withColumn(
        "__snare_routed",
        F.transform(F.transform(live, _route_info), routed_of))
    routed = F.col("__snare_routed")
    # keep-LAST duplicate semantics (json_object_object_add replaces)
    out = out.withColumn(
        "__snare_ri",
        F.transform(routed, lambda e, i: F.struct(
            e["t"].alias("t"), e["k"].alias("k"),
            e["pj"].alias("pj"), i.alias("i"))))
    ri = F.col("__snare_ri")
    keep = F.filter(ri, lambda x: F.size(F.filter(
        ri, lambda y: (y["t"] == x["t"]) & (y["k"] == x["k"])
        & (y["i"] > x["i"]))) == 0)
    out = out.withColumn("__snare_keep", keep)
    kept = F.col("__snare_keep")

    # The ~29 output containers are mutually independent and all read
    # the materialized __snare_* columns, so they are collected and
    # applied in ONE withColumns call: every chained withColumn
    # eagerly re-analyzes the (large, still-growing) plan, which
    # dominated this operator's plan-construction time (r11 perf).
    pending: dict[str, Column] = {}

    def container(colname: str, path: str, col):
        pending[colname] = col.alias(
            colname, metadata={"rs_path": path, "rs_json": True})

    container("cee_win_event", "$!win!Event", F.when(ok, event_obj))

    targets = sorted({c for _p, c, b in sections if b == "std"}
                     | {sec for _k, _v, sec, _p in fields
                        if sec is not None}
                     | {sec for rows in event_fields.values()
                        for _k, _v, sec, _p in rows if sec is not None}
                     | {"EventData", "Logon", "Privileges"})
    targets = [t for t in targets if t not in ("LAPS",)]
    # ONE pass over the (few) targets actually present in the row —
    # a map target → assembled JSON object; the ~25 plan-time
    # container columns then read it with a cheap map probe instead
    # of each rescanning the entry array (interpreted-eval hot path)
    present = F.array_distinct(F.transform(kept, lambda e: e["t"]))
    out = out.withColumn(
        "__snare_objs",
        F.map_from_entries(F.transform(present, lambda t: F.struct(
            t.alias("t"),
            F.concat(
                F.lit("{"),
                F.array_join(F.transform(
                    F.filter(kept, lambda e: e["t"] == t),
                    lambda e: e["pj"]), ","),
                F.lit("}")).alias("obj")))))
    objs = F.col("__snare_objs")
    for cname in targets:
        container(f"cee_win_{cname.lower()}", f"$!win!{cname}",
                  F.element_at(objs, cname))

    # validation errors → $!win!Validation!Errors
    # (handle_parsing_error, mmsnareparse.c:3778 '%s: %s'). The
    # Errors array and the Stats!ParsingStats object are emitted for
    # EVERY parsed message — initialize_observability (:3346-3356)
    # creates both unconditionally, so a clean message renders
    # Errors=[] (golden mmsnareparse-enhanced-validation.sh asserts
    # the empty array + exact counts).
    engaged = m.contains("MSWinEventLog")
    errs = F.filter(F.transform(routed, lambda e: e["err"]),
                    lambda x: x.isNotNull())
    container("cee_win_validation", "$!win!Validation", F.when(
        engaged,
        F.concat(F.lit('{"Errors":['),
                 F.array_join(F.transform(errs, _snare_jq), ","),
                 F.lit("]}"))))
    # ParsingStats (finalize_parsing_stats :3359-3365): every
    # non-placeholder dispatch_field store counts total+successful —
    # INCLUDING validation-failure fallbacks (parse_field_value_
    # enhanced stores the raw string, stored=1, so dispatch_field
    # :3754 counts it successful; the error is recorded in Errors
    # instead). failed_parses increments only on strict-mode
    # rejection or a store miss — 0 in the permissive/fallback model.
    # Divergence note: the reference counts a LAPS Context dispatch
    # once; our routed array excludes it (parsed separately below).
    n_routed = F.size(F.filter(routed, lambda e: ~e["ov"])) \
        .cast("string")
    container("cee_win_stats", "$!win!Stats", F.when(
        engaged,
        F.concat(F.lit('{"ParsingStats":{"total_fields":'), n_routed,
                 F.lit(',"successful_parses":'), n_routed,
                 F.lit(',"failed_parses":0}}'))))

    # Summary: first description token that is prose (no colon) —
    # tab path only (parse_line summary branch). F.get (0-based,
    # null-safe) rather than element_at(least(size,1)): the computed
    # index is 0 on marker-free rows (empty token array), and codegen
    # CSE can hoist the element_at out of the when-guard below and
    # evaluate it eagerly → INVALID_INDEX_OF_ZERO (observed when the
    # parsed frame feeds an aggregate, e.g. exceptAll).
    first_tok = F.get(info, 0)["t"]
    summary = F.when(
        ok & (F.size(info) > 0) & ~first_tok.contains(":")
        & first_tok.contains(" "), first_tok)
    pending["cee_win_summary"] = summary.alias(
        "cee_win_summary", metadata={"rs_path": "$!win!Summary"})

    # LAPS Context: 'K=V; K2=V2' pair → $!win!LAPS, True/False
    # lowercased (parse_semicolon_sequence + CredentialRotation bool)
    laps = F.filter(entries, lambda e: e["k"] == "LAPSContext")
    # F.get for the same reason as first_tok above: the laps array is
    # empty on most rows and the when(size>0) guard does not survive
    # codegen common-subexpression hoisting.
    laps_pairs = F.filter(
        F.transform(
            F.split(F.get(laps, 0)["v"], r";\s*"),
            lambda kv: F.when(
                kv.contains("="),
                F.struct(
                    F.trim(F.split_part(kv, F.lit("="), F.lit(1)))
                    .alias("k"),
                    F.when(F.lower(F.trim(F.split_part(
                        kv, F.lit("="), F.lit(2))))
                        .isin("true", "false"),
                        F.lower(F.trim(F.split_part(
                            kv, F.lit("="), F.lit(2)))))
                    .otherwise(F.trim(F.split_part(
                        kv, F.lit("="), F.lit(2)))).alias("v")))),
        lambda e: e.isNotNull())
    container("cee_win_laps", "$!win!LAPS", F.when(
        F.size(laps) > 0,
        F.to_json(F.map_from_entries(laps_pairs))))
    out = out.withColumns(pending)
    return out.drop("__snare_m", "__snare_tabs", "__snare_eid",
                    "__snare_toks", "__snare_entries",
                    "__snare_routed", "__snare_ri", "__snare_keep",
                    "__snare_objs")
