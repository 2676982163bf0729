"""Config runtime: execute a parsed rsyslog.conf end-to-end.

The reference's activation sequence (runtime/rsconf.c:1228-1268 —
start actions, queues, then inputs) maps to: build each input's
DataFrame, parse, run the bound ruleset's DAG, then start one write
per action. Batch mode reads the same files with ``spark.read`` (for
tests and backfills); streaming mode uses the imfile source with an
``availableNow``-style trigger left to the caller.

Supported action types at the runtime level: omfile (text lines via
the named template, or parquet when ``template`` is absent), omfwd
(TCP/UDP forward through streaming/sinks.omfwd_sink, including legacy
``@host``/``@@host`` selector targets), ompipe (``|path`` targets —
single-writer append, matching the reference's one fd per pipe),
omkafka (when the action names a broker), omelasticsearch/omhttp/
omprog, the transport family (ommail SMTP, omsnmp traps, omhiredis
RESP, omuxsock, omstdout, omotel OTLP), and omdiscard (compiled
away as Stop at parse time). ``sink_overrides`` lets hosts rebind any
type (e.g. omusrmsg → a wall-device mock in tests); remaining types
are returned as (name, DataFrame, params) for host wiring —
transports need endpoints only the host knows.
"""

from __future__ import annotations

import contextlib
import glob as _glob
import os
import time
from dataclasses import dataclass, field as dfield
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rsyslog_spark.config.rainerscript import ParsedConfig, load_config
from rsyslog_spark.parsers import parse_syslog
from rsyslog_spark.session import now_col as _now_col


def _estimate_input_bytes(path: str | None) -> int | None:
    """Total bytes under a local (possibly-glob) input path; None when
    the size can't be cheaply determined (remote FS, no matches)."""
    if isinstance(path, (list, tuple)):   # ignoreOlderThan path list
        vals = [_estimate_input_bytes(p) for p in path]
        vals = [v for v in vals if v]
        return sum(vals) if vals else None
    if not path or "://" in path:
        return None
    pats = [path]
    if os.path.isdir(path):
        pats = [os.path.join(path, "*")]
    total = 0
    seen = False
    for pat in pats:
        for f in _glob.glob(pat):
            if os.path.isfile(f):
                total += os.path.getsize(f)
                seen = True
    return total if seen else None


# Whole-stage codegen is a JIT: janino compilation of the fused
# per-stage class costs ~1.5-2.5s for a parse+render plan, paid per
# query, while the compiled code only wins it back at ~10^8-row
# scale. A one-shot batch config over a small input therefore runs
# FASTER interpreted-projection-only (measured, SCALE.md §1: 2M-line
# relay 3.4s -> 1.66s). Below this input-size threshold batch runs
# disable whole-stage fusion (per-expression codegen stays on); at or
# above it — the 100 TB case — fusion is kept.
_CODEGEN_MIN_BYTES = 4 << 30


@contextlib.contextmanager
def _small_batch_codegen(spark: SparkSession, est_bytes: int | None):
    if est_bytes is None or est_bytes >= _CODEGEN_MIN_BYTES:
        yield
        return
    key = "spark.sql.codegen.wholeStage"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@dataclass
class ConfigRun:
    """Outcome of a batch config run."""

    written: dict[str, str] = dfield(default_factory=dict)   # action → path
    unbound: list[tuple[str, DataFrame, dict]] = dfield(
        default_factory=list)                                # host-wired
    survivors: DataFrame | None = None
    # dyn_inc/percentile_observe buckets → aggregated DataFrame
    # (counts per key / percentile summary), computed over the batch
    dynstats: dict[str, DataFrame] = dfield(default_factory=dict)
    # per-action counters when module(load="impstats") is configured
    # (ref: runtime/action.c:485-515 statsobj counters)
    action_stats: dict[str, dict] = dfield(default_factory=dict)
    # omfwd per-target statsobjs (omfwd.c:2091-2116 — name
    # '{TCP|UDP}-<target>-<port>', counters bytes.sent/messages.sent/
    # num.connects; num.connects added ChangeLog 2026-04-13)
    omfwd_stats: dict[str, dict] = dfield(default_factory=dict)
    # percentile bucket → statname delimiter (perctile_stats.c
    # bucket config; feeds perctile_lines)
    perctile_meta: dict[str, str] = dfield(default_factory=dict)
    # module(load="impstats" ...) params for line-format options
    # (bracketing/format; impstats.c:117-121 modpdescr)
    impstats_conf: dict = dfield(default_factory=dict)
    # actions that failed at execution and SUSPENDED (action.c
    # resume/suspend; failover-*.sh) — name → repr(error)
    suspended: dict[str, str] = dfield(default_factory=dict)
    # the log.file sink used for this run's stats cycle, when
    # module(load="impstats" log.file=..) is configured
    impstats_sink: object = None
    # internal messages generated during the run (errmsg.c LogError/
    # LogMsg analog) — (severity, text) tuples routed through the
    # ruleset as rsyslogd-tagged messages after the primary
    # dispatch, gated by global(internalmsg.severity=..)
    # (rsyslogd.c:1052 logmsgInternal_doWrite)
    internal_msgs: list = dfield(default_factory=list)

    def perctile_lines(self) -> list[str]:
        """Percentile buckets in the reference's legacy impstats
        line shape (perctile_stats.c:230-280 counter naming:
        '<key><delim>pN' / '<key><delim>window_{min,max,sum,count}';
        golden perctile-simple.sh content checks)."""
        out = []
        for bucket, d in self.perctile_meta.items():
            df = self.dynstats.get(bucket)
            if df is None:
                continue
            parts = []
            cols = [c for c in df.columns if c != "key"]
            for r in df.orderBy("key").collect():
                for c in cols:
                    v = r[c]
                    parts.append(
                        f"{r['key']}{d}{c}="
                        f"{int(v) if v is not None else 0}")
            out.append(f"{bucket}: origin=percentile.bucket "
                       + " ".join(parts))
        return out

    def impstats_lines(self) -> list[str]:
        """Per-action counters in the reference's legacy impstats
        line format (statsobj legacy output: 'NAME: k=v ...').

        ``module(load="impstats" bracketing="on")`` wraps each stats
        cycle in literal BEGIN/END marker lines (impstats.c:800-802
        submitLine around generateStatsMsgs — consumers use the
        brackets to delimit one atomic snapshot; goldens dynstats.sh
        / dynstats-json.sh configs)."""
        order = ["processed", "batchesprocessed", "failed",
                 "suspended", "suspended.duration", "resumed",
                 "ratelimit.allowed", "ratelimit.dropped",
                 "ratelimit.paced", "ratelimit.paced_usec"]
        out = []
        for name, ctr in self.action_stats.items():
            kv = " ".join(f"{k}={ctr[k]}" for k in order if k in ctr)
            out.append(f"{name}: origin=core.action {kv}")
        # omfwd per-target statsobjs (counter order matches
        # omfwd.c:2102-2114 AddCounter sequence)
        for tname, ctr in self.omfwd_stats.items():
            out.append(
                f"{tname}: origin=omfwd "
                f"bytes.sent={ctr['bytes.sent']} "
                f"messages.sent={ctr['messages.sent']} "
                f"num.connects={ctr['num.connects']}")
        # the dynstats subsystem's GLOBAL statsobj emits every cycle
        # even with zero buckets configured (dynstats.c global
        # counters; golden no-dynstats.sh checks
        # 'global: origin=dynstats' appears)
        out.append("global: origin=dynstats")
        # resource-usage emits every cycle too (impstats.c:680-700
        # getrusage statsobj; impstats-{overwrite,no-overwrite}.sh
        # count its occurrences to tell append from overwrite)
        from rsyslog_spark.streaming.impstats import ImpstatsListener
        out.append(ImpstatsListener.resource_usage_line())
        if str(self.impstats_conf.get("bracketing", "off")
               ).lower() in ("on", "true", "1"):
            out = ["BEGIN"] + out + ["END"]
        return out

    def impstats_json_objs(self) -> list[dict]:
        """The cycle's stats as JSON objects (statsobj format="json"
        shape: name/origin + counter values) — input to the
        prometheus and zabbix renderers."""
        objs = [{"name": n, "origin": "core.action",
                 "values": dict(c)}
                for n, c in self.action_stats.items()]
        objs += [{"name": n, "origin": "omfwd", "values": dict(c)}
                 for n, c in self.omfwd_stats.items()]
        objs.append({"name": "global", "origin": "dynstats",
                     "values": {}})
        from rsyslog_spark.streaming.impstats import ImpstatsListener
        ru = ImpstatsListener.resource_usage_line()
        vals = dict(kv.split("=", 1)
                    for kv in ru.split(" origin=impstats ", 1)[1]
                    .split())
        objs.append({"name": "resource-usage", "origin": "impstats",
                     "values": {k: int(v) for k, v in vals.items()}})
        return objs


# Default render template for line-oriented transports when the action
# names none — the RSYSLOG_ForwardFormat shape (ref: runtime/
# template.c default templates; doc templates.rst).
_FORWARD_TEMPLATE = ("<%pri%>%timereported:::date-rfc3339% %hostname% "
                     "%syslogtag%%msg%")


def _rendered_lines(df: DataFrame, cfg: ParsedConfig, params: dict,
                    default: str | None = _FORWARD_TEMPLATE):
    """Template-render an action's rows to a single ``line`` column
    (or None when the action names no template and no default
    applies)."""
    tpl = cfg.templates.get(params.get("template", ""))
    if (tpl is None or not hasattr(tpl, "col")) and default:
        from rsyslog_spark.templates import compile_template_string
        tpl = compile_template_string(default)
    if tpl is None or not hasattr(tpl, "col"):
        return None
    return df.select(tpl.col(df).alias("line"))


def _apply_escape_on_receive(lines: DataFrame, cfg: ParsedConfig
                             ) -> DataFrame:
    """$Escape8BitCharactersOnReceive / $EscapeControlCharactersOnReceive
    (and the modern global(parser.escape...=...) spellings) over the
    raw line frame (ref: runtime/parser.c SanitizeMsg; glbl.c:147-151).
    Applied only when a directive explicitly configures escaping —
    see functions.strings.escape_on_receive for the divergent-default
    note."""
    def d(*keys):
        for k in keys:
            v = cfg.directives.get(k)
            if v is not None:
                return str(v).lower() in ("on", "true", "1")
        return None

    # $SpaceLFOnReceive / global(parser.spaceLFOnReceive): embedded
    # LF bytes rewrite to spaces, composing with the general
    # sanitizer below (parser.c:393; ChangeLog 2026-06-30 — mixed
    # LF + control/8-bit input sanitizes consistently)
    if d("spacelfonreceive", "parser.spacelfonreceive"):
        lines = lines.withColumn(
            "line", F.regexp_replace(F.col("line"), "\n", " "))
    cc = d("escapecontrolcharactersonreceive",
           "parser.escapecontrolcharactersonreceive")
    b8 = d("escape8bitcharactersonreceive",
           "parser.escape8bitcharactersonreceive")
    cstyle = d("parser.escapecontrolcharacterscstyle")
    if cstyle and cc is None:
        # asking for C-STYLE escaping implies escaping (the reference
        # default for EscapeControlCharactersOnReceive is ON; the
        # engine's divergent default is off — pmsnare-cccstyle.sh
        # enables only the cstyle switch)
        cc = True
    if not cc and not b8:
        return lines
    tab = d("escapecontrolcharactertab",
            "parser.escapecontrolcharactertab")
    from rsyslog_spark.functions.strings import escape_on_receive
    return lines.withColumn(
        "line", escape_on_receive(
            F.col("line"), controlchars=bool(cc), bit8=bool(b8),
            tab=tab if tab is not None else True,
            cstyle=bool(cstyle)))


def _apply_snare_prestage(lines: DataFrame, cfg: ParsedConfig,
                          ruleset: str) -> DataFrame:
    """pmsnare as a ruleset parser (contrib/pmsnare/pmsnare.c
    BEGINparse2): when ``ruleset(parser=[..])`` lists
    ``rsyslog.snare``, Snare wire lines are FIXED UP before the
    normal chain parses them — the tab (in its post-sanitization
    representation: '#011' by default, '\\t' under
    escapeControlCharactersCStyle, a raw TAB with escaping off)
    between hostname and the Snare tag, and the tab after the tag,
    each become one space. The chain then proceeds exactly as the
    reference's parser list does (pmsnare always returns
    COULD_NOT_PARSE so rfc5424/rfc3164 do the real parse). Goldens:
    pmsnare-{ccdefault,ccbackslash,cccstyle,ccoff}.sh."""
    import re as _re

    pnames = (cfg.ruleset_params.get(ruleset) or {}).get("parser")
    if not pnames:
        return lines
    if isinstance(pnames, str):
        pnames = [pnames]
    if not any(str(p).lower() == "rsyslog.snare" for p in pnames):
        return lines

    def d(*keys):
        for k in keys:
            v = cfg.directives.get(k)
            if v is not None:
                return str(v).lower() in ("on", "true", "1")
        return None

    cc = d("escapecontrolcharactersonreceive",
           "parser.escapecontrolcharactersonreceive")
    cstyle = d("parser.escapecontrolcharacterscstyle")
    if cstyle and cc is None:
        cc = True
    # tabRepresentation (pmsnare.c createInstance): the escaped form
    # the sanitizer produced for the TAB byte
    if cc and cstyle:
        tr = "\\t"
    elif cc:
        tr = "#011"
    else:
        tr = "\t"
    trq = _re.escape(tr)
    tags = "(?:MSWinEventLog|LinuxKAudit)"
    line = F.col("line")
    # non-syslog form: host<tab>TAG<tab>…  → both tabs become spaces
    line = F.regexp_replace(
        line, f"^((?:<\\d+>)?)([^ \\t]+?){trq}({tags}){trq}",
        "$1$2 $3 ")
    # syslog form: the first ' TAG<tab>' after the 3164 header
    line = F.regexp_replace(
        line, f"^(.*? {tags}){trq}", "$1 ")
    return lines.withColumn("line", line)


def _noparse_frame(lines: DataFrame, imf: dict) -> DataFrame:
    """imfile needparse="off" (the reference default, imfile.c:
    1611-1614): no header parse — MSG/rawmsg = the whole line, TAG
    and PRI from the input params (defaults local0.notice = 133),
    hostname = the local host; canonical column shape matches
    parse_syslog output."""
    import socket as _socket

    from rsyslog_spark.schema import SYSLOG_COLUMNS

    tag = str(imf.get("tag", ""))
    fac = int(imf.get("facility", 16))
    sev = int(imf.get("severity", 5))
    pri = (fac << 3) | sev if fac < 32 else fac | sev
    prog = tag.split("[")[0].split(":")[0].split("/")[0]
    from rsyslog_spark.session import local_hostname
    host = F.lit(local_hostname())
    l = F.col("line")
    tgen = _now_col()
    null_s = F.lit(None).cast("string")
    vals = {
        "rawmsg": l, "msg": l,
        "pri": F.lit(pri),
        "syslogfacility": F.lit(pri >> 3),
        "syslogseverity": F.lit(pri & 7),
        "hostname": host, "fromhost": host,
        "fromhost_ip": null_s,
        "fromhost_port": F.lit(None).cast("int"),
        "syslogtag": F.lit(tag), "programname": F.lit(prog),
        "app_name": F.lit(prog) if prog else null_s,
        "procid": null_s, "msgid": null_s,
        "inputname": F.lit("imfile"),
        "timereported": tgen, "timegenerated": tgen,
        # NULL = locally-stamped time, session-zone render semantics
        "tz_offset_sec": F.lit(None).cast("int"),
        "tz_zulu": F.lit(None).cast("boolean"),
        "secfrac_prec": F.lit(None).cast("int"),
        "protocol_version": F.lit(0),
        "structured_data": null_s, "json": null_s, "uuid": null_s,
        # bParseSuccess is only set by mm modules (msg.c:2183)
        "parsesuccess": F.lit(False),
    }
    keep = [c for c in lines.columns if c != "line"]
    return lines.select(
        *keep, *[vals[c].alias(c) for c in SYSLOG_COLUMNS])


def _outchannel_size_check(och: dict) -> None:
    """Size-capped rotation (ref: outchannel.c uSizeLimit +
    cmdOnSizeLimit; omfile.c:497-500 — when the written size passes
    the cap, the configured command runs to rotate; legacy outchannel
    behavior passes NO filename argument, while the action-level form
    appends the target file name when
    rotation.sizeLimitCommandPassFileName is on — stream.c:177
    execProg(..., pszCurrFName), ChangeLog 2026-01-29)."""
    import os
    import shlex
    import subprocess

    limit = int(och.get("maxsize", 0))
    if limit <= 0:
        return
    path = och["file"]
    total = 0
    if os.path.isdir(path):
        for f in os.listdir(path):
            total += os.path.getsize(os.path.join(path, f))
    elif os.path.exists(path):
        total = os.path.getsize(path)
    if total > limit and och.get("command"):
        cmd = och["command"]
        if och.get("pass_filename"):
            cmd = f"{cmd} {shlex.quote(path)}"
        subprocess.run(cmd, shell=True, check=False)


def _apply_oversize_policy(lines: DataFrame, cfg: ParsedConfig,
                           write_errorfile: bool = True
                           ) -> DataFrame:
    """global(maxMessageSize=N [oversizemsg.input.mode=
    truncate|split|accept] [oversizemsg.errorfile=F]) over a raw
    line frame (ref: runtime/glbl.c:138-140; goldens
    glbl-oversizeMsg-{truncate,split}.sh; errmsg.c
    writeOversizeMessageLog — one JSON record per oversize message:
    {"msg":..,"rawmsg":..,"input":..}).

    truncate (the reference default): keep the first N chars.
    split: the line becomes ceil(len/N) messages of N chars each
    (pure column transform + explode — distributed).
    accept: pass unchanged. The errorfile streams via
    toLocalIterator (bounded driver memory), msg==rawmsg at intake
    (the record is written before parsing, as in the reference)."""
    mms = cfg.directives.get("maxmessagesize")
    if not mms:
        return lines
    n = int(mms)
    mode = str(cfg.directives.get("oversizemsg.input.mode",
                                  "truncate")).lower()
    if mode not in ("truncate", "split", "accept"):
        raise ValueError(
            f"unknown oversizemsg.input.mode {mode!r}")
    errorfile = (cfg.directives.get("oversizemsg.errorfile")
                 if write_errorfile else None)
    line = F.col("line")
    over = F.length(line) > n
    if errorfile:
        # full-message JSON record per oversize line (ref: errmsg.c
        # oversizeJsonFromMsg:128-165 — msg/rawmsg plus the parsed
        # header properties with RFC3339 timestamps, and the
        # historical "input" alias of inputname at :330-334; golden
        # imptcp-oversize-errorfile-truncate.sh content_checks).
        # The parse runs ONLY over the oversize subset; the write
        # streams via toLocalIterator (bounded driver memory).
        import json as _json

        from rsyslog_spark.parsers.chain import parse_syslog

        parsed = parse_syslog(lines.filter(over),
                              inputname="imfile", keep_raw=True)
        ts39 = "yyyy-MM-dd'T'HH:mm:ssXXX"
        sel = parsed.select(
            F.col("msg"), F.col("rawmsg"),
            F.date_format("timereported", ts39).alias("timereported"),
            "hostname", "syslogtag", "inputname", "fromhost",
            F.coalesce(F.col("fromhost_ip"), F.lit(""))
            .alias("fromhost-ip"),
            F.col("pri").cast("string"),
            F.col("syslogfacility").cast("string"),
            F.col("syslogseverity").cast("string"),
            F.date_format("timegenerated", ts39)
            .alias("timegenerated"),
            "programname",
            F.coalesce(F.col("protocol_version").cast("string"),
                       F.lit("0")).alias("protocol-version"),
            F.coalesce(F.col("structured_data"), F.lit("-"))
            .alias("structured-data"),
            F.coalesce(F.col("app_name"), F.lit("")).alias("app-name"),
            F.coalesce(F.col("procid"), F.lit("-")).alias("procid"),
            F.coalesce(F.col("msgid"), F.lit("-")).alias("msgid"),
        )
        with open(errorfile, "a", encoding="utf-8") as fh:
            for r in sel.toLocalIterator():
                rec = r.asDict()
                rec["input"] = rec.get("inputname") or "imfile"
                fh.write(_json.dumps(rec) + "\n")
    if mode == "accept":
        return lines
    # oversizemsg.report (glbl.c:139, default ON): truncate/split
    # inject one internal warning message per oversize line —
    # "message too long (LEN) with configured size MAX, begin of
    # message is: <first 80 chars>" (tools/rsyslogd.c
    # submitMsg2:1258-1263; goldens glbl-oversizeMsg-split.sh /
    # -truncate-imfile.sh grep it in the OUTPUT). Accept mode never
    # reports (the reference reports before the mode switch, but
    # accept keeps the line; we match the goldens' observable:
    # warnings only in truncate/split runs).
    report = str(cfg.directives.get("oversizemsg.report", "on")
                 ).lower() in ("on", "true", "1")
    warn = None
    if report:
        warn_line = F.format_string(
            "message too long (%d) with configured size %d, begin "
            "of message is: %s",
            F.length(line), F.lit(n), F.substring(line, 1, 80))
        warn = lines.filter(over).select(warn_line.alias("line"))
    if mode == "truncate":
        out = lines.withColumn("line", F.substring(line, 1, n))
    else:
        # split: N-char chunks, order preserved within the line
        others = [c for c in lines.columns if c != "line"]
        chunks = F.transform(
            F.sequence(F.lit(0),
                       F.floor((F.length(line) - 1) / n).cast("int")),
            lambda i: F.substr(line, i * n + 1, F.lit(n)))
        out = lines.select(
            *others, F.explode(F.when(over, chunks)
                               .otherwise(F.array(line))).alias("line"))
    if warn is not None:
        out = out.unionByName(warn, allowMissingColumns=True)
    return out


def _ratelimit_policy(cfg: ParsedConfig, name: str) -> dict:
    """Resolve ratelimit(name=.. policy=..) → {scope, mode, interval,
    burst} (ref: ChangeLog 2026-07-06 generic action output rate
    limiting; tests/action-ratelimit-{drop,pace}.sh policy YAML)."""
    for o in cfg.objects.get("ratelimit", []):
        if o.get("name") != name:
            continue
        pol = {k: o[k] for k in ("scope", "mode", "interval", "burst")
               if k in o}
        path = o.get("policy")
        if path:
            with open(path, encoding="utf-8") as fh:
                for ln in fh:
                    k, _, v = ln.partition(":")
                    if _ and k.strip() and not k.startswith("#"):
                        pol.setdefault(k.strip(), v.strip())
        pol["mode"] = str(pol.get("mode", "drop")).lower()
        pol["interval"] = int(pol.get("interval", "0"))
        pol["burst"] = int(pol.get("burst", "0"))
        return pol
    raise ValueError(f"ratelimit {name!r} not declared")


def _parse_persource_yaml(path: str) -> dict | None:
    """Parse + validate a ratelimit perSource policy YAML (ref:
    runtime/ratelimit.c:750-947 — enabled, keyTemplate,
    default.max/window, overrides[key→max/window]). Returns None
    when the file has no enabled perSource section; raises on an
    invalid file."""
    try:
        import yaml
    except ImportError:
        # a declared policy must apply or config load must fail —
        # silently admitting unlimited traffic diverges from the
        # reference (ratelimit.c aborts load on unreadable policy)
        raise ValueError(
            f"ratelimit: policy={path} declared but PyYAML is not "
            "importable - refusing to run with the perSource policy "
            "silently disabled")
    with open(path, encoding="utf-8") as fh:
        doc = yaml.safe_load(fh) or {}
    if not isinstance(doc, dict):
        raise ValueError(
            f"ratelimit: policy file {path} is not a mapping")
    ps = doc.get("perSource")
    if not isinstance(ps, dict):
        return None
    en = ps.get("enabled")
    if not (en is True or str(en).lower() in ("true", "1", "on",
                                              "yes")):
        return None

    def win_s(v) -> int:
        s = str(v).strip().lower()
        if s.endswith("ms"):
            return max(1, int(round(float(s[:-2]) / 1000.0)))
        if s.endswith("s"):
            return int(float(s[:-1]))
        if s.endswith("m"):
            return int(float(s[:-1]) * 60)
        if s.endswith("h"):
            return int(float(s[:-1]) * 3600)
        return int(float(s))

    dflt = ps.get("default") or {}
    if "max" not in dflt or "window" not in dflt:
        raise ValueError(
            f"ratelimit: policy file {path} perSource section "
            "missing default.max or default.window")
    return {
        "key_template": ps.get("keyTemplate"),
        "max": int(dflt["max"]),
        "window": win_s(dflt["window"]),
        "overrides": {
            str(ov["key"]): (int(ov.get("max", dflt["max"])),
                             win_s(ov.get("window",
                                          dflt["window"])))
            for ov in (ps.get("overrides") or [])
            if isinstance(ov, dict) and "key" in ov},
    }


def _persource_policy(cfg: ParsedConfig, name: str) -> dict | None:
    """ratelimit(name=.. policy=..) perSource section (golden
    imptcp-persource-ratelimit-policy.sh). With policyWatch="on"
    (ChangeLog 2026-04-08/13) the file is re-stated per call — i.e.
    per batch run / streaming micro-batch, this engine's main-loop
    ticks — and reloads debounced by policyWatchDebounce (default
    5s, ratelimit.c:335); an invalid reload keeps the last good
    policy. Returns None when the object has no enabled perSource
    section."""
    for o in cfg.objects.get("ratelimit", []):
        if o.get("name") != name:
            continue
        path = o.get("policy")
        if not path:
            return None
        lo = {k.lower(): v for k, v in o.items()}
        if str(lo.get("policywatch", "off")).lower() in (
                "on", "true", "1"):
            from rsyslog_spark.config.rswatch import (duration_ms,
                                                      watched_load)

            deb = duration_ms(lo.get("policywatchdebounce", "5s"))
            return watched_load(path, _parse_persource_yaml,
                                debounce_ms=deb,
                                tag="ratelimit policy")
        return _parse_persource_yaml(path)
    raise ValueError(f"ratelimit {name!r} not declared")


def _apply_persource_ratelimit(cfg: ParsedConfig, inp: dict | None,
                               frame: DataFrame) -> DataFrame:
    """input(... ratelimit.name=..) per-source admission
    (ratelimit.c ratelimitAddMsg: key = the rendered keyTemplate;
    per-key max per window, overrides per key; excess rows discard
    SILENTLY with discard status — never counted as submitted).
    One shuffle on (key, window-bucket); row_number against a
    per-key quota column keeps variable override windows in one
    pass.

    Inline ``ratelimit.interval``/``ratelimit.burst`` (the legacy
    per-listener path) admit ``burst`` rows per ``interval`` seconds
    for the whole input. ``ratelimit.name`` and the inline pair are
    MUTUALLY EXCLUSIVE (ChangeLog 2026-02-27 'wire ratelimit.name
    into remaining modules' — every module got the same
    exclusivity check when the shared-object path landed)."""
    lin = {k.lower(): v for k, v in (inp or {}).items()}
    name = lin.get("ratelimit.name")
    ivl = int(lin.get("ratelimit.interval", 0) or 0)
    burst = int(lin.get("ratelimit.burst", 0) or 0)
    if name and (lin.get("ratelimit.interval") is not None
                 or lin.get("ratelimit.burst") is not None):
        raise ValueError(
            f"input(type={lin.get('type')!r}): ratelimit.name and "
            "ratelimit.interval/ratelimit.burst are mutually "
            "exclusive - use the shared ratelimit() object OR the "
            "inline parameters")
    if not name:
        if ivl > 0 and burst > 0:
            from pyspark.sql import Window

            ts = "timegenerated" if "timegenerated" in frame.columns \
                else "timereported"
            bucket = F.floor(F.unix_timestamp(F.col(ts)) / ivl)
            w = Window.partitionBy(bucket).orderBy(
                F.monotonically_increasing_id())
            return frame.withColumn(
                "__rl_rn", F.row_number().over(w)
            ).filter(F.col("__rl_rn") <= burst).drop("__rl_rn")
        return frame
    pol = _persource_policy(cfg, name)
    if pol is None:
        return frame
    from pyspark.sql import Window

    tpl = cfg.templates.get(pol["key_template"] or "")
    key = tpl.col(frame) if tpl is not None and hasattr(tpl, "col") \
        else F.col("hostname")
    ts = "timegenerated" if "timegenerated" in frame.columns \
        else "timereported"
    mx = F.lit(pol["max"])
    win = F.lit(pol["window"])
    for k, (m, wsec) in pol["overrides"].items():
        mx = F.when(key == k, F.lit(m)).otherwise(mx)
        win = F.when(key == k, F.lit(wsec)).otherwise(win)
    bucket = F.floor(F.unix_timestamp(F.col(ts)) / win)
    w = Window.partitionBy(key, bucket).orderBy(
        F.monotonically_increasing_id())
    return frame.withColumn("__ps_rn", F.row_number().over(w)) \
        .filter(F.col("__ps_rn") <= mx).drop("__ps_rn")


def _apply_action_ratelimit(cfg: ParsedConfig, rl_name: str,
                            df: DataFrame,
                            state: dict | None = None
                            ) -> tuple[DataFrame, float]:
    """Action-scoped output rate limiting. drop: first ``burst`` rows
    per interval window pass (arrival order), rest discarded before
    the output module runs. pace: every row delivers, the action
    worker sleeps so the configured rate is observable — returns the
    pace duration for the caller to sleep AFTER the write (the
    reference paces inside the action worker; shutdown is checked
    before sleeping there, here the bound caps the stall).

    ``state`` (streaming twin): per-action dict carrying admitted
    counts per interval window ACROSS micro-batches — without it a
    window that spans batches would re-admit ``burst`` rows per
    batch. The bookkeeping is O(#windows in batch): one small agg to
    learn per-window quota use, the row filter itself stays fully
    distributed (no row collect)."""
    from pyspark.sql import Window

    pol = _ratelimit_policy(cfg, rl_name)
    burst = pol["burst"]
    if burst <= 0:
        return df, 0.0
    if pol["mode"] == "pace":
        n = df.count()
        extra_windows = max(0, -(-n // burst) - 1)
        return df, float(extra_windows * pol["interval"])
    # drop mode: arrival order within the batch (file/row order)
    ts = "timegenerated" if "timegenerated" in df.columns else None
    order = F.monotonically_increasing_id()
    if ts and pol["interval"] > 0:
        bucket = F.window(F.col(ts), f"{pol['interval']} seconds")[
            "start"]
        w = Window.partitionBy(bucket).orderBy(order)
    else:
        bucket = F.lit("__all__").cast("timestamp")
        w = Window.partitionBy(F.lit(1)).orderBy(order)
    ranked = df.withColumn("__rl_rn", F.row_number().over(w)) \
        .withColumn("__rl_w", bucket)
    if state is None:
        gated = ranked.filter(F.col("__rl_rn") <= burst)
    else:
        # remaining quota per window = burst - already admitted in
        # prior batches; windows present in this batch: small agg
        counts = {r[0]: r[1] for r in
                  ranked.groupBy("__rl_w").count().collect()}
        quota = {wk: max(0, burst - state.get(wk, 0))
                 for wk in counts}
        qexpr = None
        for wk, q in quota.items():
            cond = F.col("__rl_w").eqNullSafe(F.lit(wk))
            qexpr = F.when(cond, F.lit(q)) if qexpr is None \
                else qexpr.when(cond, F.lit(q))
        gated = ranked.filter(F.col("__rl_rn")
                              <= F.coalesce(qexpr, F.lit(0)))
        for wk, n in counts.items():
            state[wk] = state.get(wk, 0) + min(n, quota[wk])
    return gated.drop("__rl_rn", "__rl_w"), 0.0


def _dispatch_action(
    cfg: ParsedConfig, name: str, df: DataFrame, params: dict,
    run: ConfigRun, sink_overrides: dict | None = None,
    rl_state: dict | None = None,
) -> None:
    """Route one action's rows to its sink, applying action-scoped
    output rate limiting first (action.ratelimit.name — ChangeLog
    2026-07-06; drop filters before the output module runs, pace
    sleeps the worker after the write). ``rl_state`` carries drop-mode
    admitted counts across micro-batches (streaming twin)."""
    import time as _time

    rl = params.get("action.ratelimit.name")
    pace = 0.0
    stats_on = any(str(m.get("load", "")).startswith("impstats")
                   for m in cfg.modules)
    n_before = df.count() if stats_on else None
    if rl:
        df, pace = _apply_action_ratelimit(cfg, rl, df, rl_state)
    if stats_on:
        # per-action counters (action.c:485-515); counting costs one
        # extra job per action, paid only when impstats is loaded —
        # like the reference only maintains statsobjs with impstats
        n_after = df.count() if rl else n_before
        ctr = run.action_stats.setdefault(name, {
            "processed": 0, "batchesprocessed": 0, "failed": 0,
            "suspended": 0, "suspended.duration": 0, "resumed": 0})
        ctr["processed"] += n_after
        ctr["batchesprocessed"] += 1
        if rl:
            ctr["ratelimit.allowed"] = \
                ctr.get("ratelimit.allowed", 0) + n_after
            if pace > 0:
                ctr["ratelimit.paced"] = \
                    ctr.get("ratelimit.paced", 0) + n_after
                ctr["ratelimit.paced_usec"] = \
                    ctr.get("ratelimit.paced_usec", 0) \
                    + int(min(pace, 30.0) * 1_000_000)
            else:
                ctr["ratelimit.dropped"] = \
                    ctr.get("ratelimit.dropped", 0) \
                    + (n_before - n_after)
    try:
        _dispatch_action_inner(cfg, name, df, params, run,
                               sink_overrides)
    except Exception:
        if stats_on:
            run.action_stats[name]["failed"] += n_after
            run.action_stats[name]["suspended"] += 1
        raise
    if pace > 0:
        _time.sleep(min(pace, 30.0))


def _dispatch_action_inner(
    cfg: ParsedConfig, name: str, df: DataFrame, params: dict,
    run: ConfigRun, sink_overrides: dict | None = None,
) -> None:
    """Route one action's rows to its sink (ref activation sequence:
    runtime/rsconf.c:1228-1268 — actions start first). Types without a
    runtime binding land in ``run.unbound`` for host wiring."""
    typ = params.get("type", "")
    # $outchannel target: resolve file + size cap + rotate command
    # (tools/omfile.c cflineParseOutchannel)
    och_name = params.get("outchannel") or (
        params.get("target", "")[1:]
        if typ == "omfile" and params.get("target", "").startswith("$")
        else "")
    if och_name:
        och = cfg.outchannels.get(och_name)
        if och is None:
            raise ValueError(f"outchannel {och_name!r} not declared")
        params = {**params, "file": och["file"]}
        params.pop("target", None)
        params.pop("outchannel", None)
        _dispatch_action_inner(cfg, name, df, params, run,
                               sink_overrides)
        _outchannel_size_check(och)
        return
    if sink_overrides and typ in sink_overrides:
        out = sink_overrides[typ](name, df, params)
        run.written[name] = out if isinstance(out, str) else typ
        return
    if typ == "omsendertrack" and params.get("statefile"):
        # omsendertrack (plugins/omsendertrack/omsendertrack.c):
        # per-sender message counts + first/last seen persisted as a
        # JSON array statefile ('{"sender":..,"messages":N,
        # "firstseen":T,"lastseen":T}'); senderid names the template
        # that renders the sender id (golden
        # omsendertrack-statefile.sh format checks). The per-sender
        # aggregate is a partial-agg groupBy; only the O(#senders)
        # result is collected for the statefile.
        import json as _json
        import os as _os

        from rsyslog_spark.operators.stats import sendertrack

        tpl = cfg.templates.get(params.get("senderid", ""))
        sid = (tpl.col(df) if tpl is not None and hasattr(tpl, "col")
               else F.col("fromhost"))
        src = df.select(sid.alias("__sender"),
                        F.col("timereported").alias("__ts"))
        rows = sendertrack(src, "__sender", "__ts") \
            .orderBy("__sender").collect()
        path = params["statefile"]
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("[\n")
            fh.write(",\n".join(
                '{"sender":%s,"messages":%d,"firstseen":%d,'
                '"lastseen":%d}' % (
                    _json.dumps(r["__sender"] or ""),
                    r["msg_count"],
                    int(r["first_seen"].timestamp())
                    if r["first_seen"] else 0,
                    int(r["last_seen"].timestamp())
                    if r["last_seen"] else 0)
                for r in rows))
            fh.write("\n]\n" if rows else "]\n")
        _os.replace(tmp, path)   # atomic like the reference's rename
        run.written[name] = path
        return
    if typ == "omfile":
        # config-time validation parity: an empty/whitespace file
        # target is rejected (golden omfile-null-filename.sh /
        # omfile-whitespace-filename.sh), and a non-positive
        # dynafilecachesize normalizes to 1 with the reference's
        # exact message (normalizeDynaFileCacheSize, omfile.c:1509;
        # golden omfile-dynafilecachesize-invalid.sh — the cache
        # itself is structural here: Spark partitions by column)
        fparam = params.get("file")
        if fparam is not None and not str(fparam).strip():
            raise ValueError(
                "omfile: file parameter is empty - action can not "
                "be created")
        dcs = next((v for k, v in params.items()
                    if k.lower() == "dynafilecachesize"), None)
        if dcs is not None and int(dcs) <= 0:
            import warnings as _w

            _w.warn(f"DynaFileCacheSize must be greater 0 "
                    f"({int(dcs)} given), changed to 1.",
                    stacklevel=2)
    if typ == "omfile" and params.get("dynafile"):
        # ?DynaFile target (ref: tools/omfile.c dynafiles): the
        # template's property references become partition columns
        from rsyslog_spark.streaming.sinks import (
            dynafile_partition_spec, omfile_dynafile_batch)

        tpl = cfg.templates.get(params["dynafile"])
        src_str = getattr(tpl, "source", None)
        if src_str is None:
            raise ValueError(
                f"dynafile template {params['dynafile']!r} unknown "
                "or not a string template")
        secure = str(cfg.directives.get(
            "compatibility.defaults.secure", "")).lower() == "strict"
        # '?dynfile;outfmt' line template (ref: tools/omfile.c
        # cflineParseDynaFile; golden discard-allmark.sh): rendered
        # text lines, else the partitioned-parquet scale shape
        ltpl = cfg.templates.get(params.get("template") or "")
        line = ltpl.col(df) if ltpl is not None \
            and hasattr(ltpl, "col") else None
        omfile_dynafile_batch(df, src_str, secure_paths=secure,
                              line=line,
                              # zipLevel applies to dynafiles too
                              # (omfile.c iZipLevel is per-action,
                              # not per-file)
                              zip_level=int(params.get(
                                  "zipLevel",
                                  params.get("ziplevel", "0"))))
        run.written[name] = dynafile_partition_spec(src_str)[0]
        return
    if typ == "omfile" and params.get("file"):
        out_path = params["file"]
        # $ActionFileDefaultTemplate applies when the action names
        # no template (ref: runtime/cfsysline.c; conf.c cflineDoAction)
        tname = params.get("template") or cfg.directives.get(
            "actionfiledefaulttemplate", "")
        tpl = cfg.templates.get(tname)
        # omfile zipLevel → write codec (ref: tools/omfile.c
        # iZipLevel — any level > 0 selects gzip here)
        zl = int(params.get("zipLevel", params.get("ziplevel", "0")))
        if tpl is not None and hasattr(tpl, "col"):
            # templates end with their own \n (RSYSLOG_FileFormat
            # etc.); the text writer adds the record separator, so
            # strip ONE trailing newline or every record is followed
            # by a blank line the reference never writes
            rendered = F.regexp_replace(tpl.col(df), r"\n$", "")
            writer = df.select(rendered.alias("value")) \
                .write.mode("append")
            if zl > 0:
                writer = writer.option("compression", "gzip")
            writer.text(out_path)
        else:
            writer = df.write.mode("append")
            if zl > 0:
                writer = writer.option("compression", "gzip")
            writer.parquet(out_path)
        # sig.provider (ref: omfile.c:133-140 binds a sigprov per
        # action; lmsig_ksi-ls12 block signing): chain-sign each
        # committed part file, manifest next to it; verify with
        # tools/logverify.py
        sig = str(params.get("sig.provider", "")).lower()
        if sig:
            if sig not in ("ksi_ls12", "ksi-ls12", "hashchain"):
                raise ValueError(f"unknown sig.provider {sig!r}")
            from rsyslog_spark.streaming.sigprov import sign_directory
            sign_directory(out_path, block_size=int(
                params.get("sig.block.sizelimit", "1000")))
        # cry.provider (ref: omfile.c:179-182 binds a cryprov per
        # action; lmcry_gcry.c): encrypt each committed part file in
        # place + .encinfo side file; decrypt with tools/logdec.py.
        # Sign-then-encrypt: the sig manifest above chains the
        # PLAINTEXT records, so verification happens after logdec —
        # same layering as the reference (sigprov sees records,
        # cryprov sees the byte stream).
        cry = str(params.get("cry.provider", "")).lower()
        if cry:
            if cry not in ("gcry", "ossl"):
                raise ValueError(f"unknown cry.provider {cry!r}")
            from rsyslog_spark.streaming.cryprov import (
                provider_from_params)
            provider_from_params(params).encrypt_directory(out_path)
        # action-level rotation.sizeLimit / rotation.sizeLimitCommand
        # (omfile.c:320-322). rotation.sizeLimitCommandPassFileName
        # (ChangeLog 2026-01-29): append the target file name to the
        # rotate command — DEFAULT ON for the action form
        # (stream.c:1169); the legacy $outchannel path keeps the
        # historic no-filename behavior (omfile.c:499-500).
        lp = {k.lower(): v for k, v in params.items()}
        rlimit = int(lp.get("rotation.sizelimit", 0) or 0)
        if rlimit > 0:
            _outchannel_size_check({
                "file": out_path,
                "maxsize": rlimit,
                "command": lp.get("rotation.sizelimitcommand"),
                "pass_filename": str(lp.get(
                    "rotation.sizelimitcommandpassfilename", "on")
                ).lower() in ("on", "true", "1"),
            })
        run.written[name] = out_path
        return
    if typ == "omfwd" and (params.get("target")
                           or any(k.lower() == "targetsrv"
                                  for k in params)):
        from rsyslog_spark.streaming.sinks import omfwd_sink

        fwd_default = cfg.directives.get(
            "actionforwarddefaulttemplate") or "RSYSLOG_ForwardFormat"
        if not params.get("template") and fwd_default in cfg.templates:
            params = {**params, "template": fwd_default}
        lines = _rendered_lines(df, cfg, params)
        proto = params.get("protocol", "udp").lower()
        # targetSrv: DNS SRV discovery (ChangeLog 2026-01-02;
        # omfwd.c:560-700): query _syslog._{tcp|udp}.<domain>,
        # config error on conflict with target / empty answers
        srv_dom = next((v for k, v in params.items()
                        if k.lower() == "targetsrv"), None)
        if srv_dom:
            if params.get("target"):
                raise ValueError(
                    "omfwd: target and targetSrv are mutually "
                    "exclusive")
            hosts_ports = _resolve_srv_targets(srv_dom, proto)
            params = {**params,
                      "target": [h for h, _ in hosts_ports],
                      "port": [p for _, p in hosts_ports]}
        # target/port accept ARRAYS — the native LB pool
        # (omfwd.c:233,237 eCmdHdlrArray; omfwd-lb-2target-basic.sh)
        rawp = params.get("port", "514")
        port = ([int(p) for p in rawp]
                if isinstance(rawp, (list, tuple)) else int(rawp))
        # reference default TCP_Framing is "traditional" (LF,
        # ref tools/omfwd.c); octet-counted on request
        framing = ("octet-counted"
                   if params.get("tcp_framing", "").startswith("octet")
                   else "lf")
        # action-level StreamDriver.* params select gtls client-side
        # (same mapping as input-side; ref tools/omfwd.c driver
        # parms). Secure-default warn mode also flags UDP forwarding
        # (omfwd.c:2124-2128 warnIfNonTlsForwardingConfigured).
        if proto == "udp":
            _warn_if_insecure_default(
                _secure_defaults_policy(cfg.directives),
                'omfwd action uses protocol="udp" (without TLS); '
                "see https://docs.rsyslog.com/doc/faq/"
                "tls_mode0_disables_tls.html")
        tls = (_tls_from_input(params, cfg.directives,
                               context="omfwd action")
               if proto == "tcp" else None)
        _with_retry(params, omfwd_sink(
            params["target"], port, "line",
            framing=framing, protocol=proto, tls=tls,
            compression=params.get("compression.mode", "none"),
            compression_driver=params.get("compression.driver",
                                          "zlib"),
            compression_level=int(params.get("compressionlevel",
                                             params.get("ziplevel",
                                                        "6"))),
            flush_on_txend=str(params.get(
                "compression.stream.flushontxend", "on"))
            .lower() != "off",
            # keepalive family (omfwd.c actpblk keepalive.* with
            # legacy $ActionSendTCPKeepAlive* fallbacks,
            # omfwd.c:2838-2842)
            keepalive=str(params.get(
                "keepalive", cfg.directives.get(
                    "actionsendtcpkeepalive", "off"))).lower()
            in ("on", "true", "1"),
            keepalive_probes=int(params.get(
                "keepalive.probes", cfg.directives.get(
                    "actionsendtcpkeepalive_probes", 0)) or 0),
            keepalive_time=int(params.get(
                "keepalive.time", cfg.directives.get(
                    "actionsendtcpkeepalive_time", 0)) or 0),
            keepalive_intvl=int(params.get(
                "keepalive.interval", cfg.directives.get(
                    "actionsendtcpkeepalive_intvl", 0)) or 0),
            # tcp_user_timeout action param (omfwd, ChangeLog
            # 2026-06-29) — milliseconds
            tcp_user_timeout=int(params.get("tcp_user_timeout", 0)
                                 or 0),
            # per-target statsobj counters accumulate directly into
            # the run (num.connects et al., ChangeLog 2026-04-13)
            stats_out=run.omfwd_stats))(lines, 0)
        run.written[name] = f"{proto}://{params['target']}:{port}"
        return
    if typ == "ompipe" and params.get("pipe"):
        # one fd, sequential writes — pipes have a single consumer in
        # the reference too (tools/ompipe.c); rows stream through the
        # driver via toLocalIterator, no full collect
        lines = _rendered_lines(df, cfg, params)
        with open(params["pipe"], "a", encoding="utf-8") as fh:
            for r in lines.toLocalIterator():
                fh.write((r["line"] or "") + "\n")
        run.written[name] = params["pipe"]
        return
    if typ == "omelasticsearch" and params.get("server"):
        from rsyslog_spark.streaming.sinks import omelasticsearch_sink

        # server accepts an ARRAY (es-basic-ha.sh): requests fail
        # over to the next server on a connect error
        servers = params["server"]
        if not isinstance(servers, (list, tuple)):
            servers = [servers]
        https = str(params.get("usehttps", "off")).lower() in (
            "on", "true", "1")
        urls = [_es_base_url(str(s),
                             int(params.get("serverport", "9200")),
                             https) + "_bulk" for s in servers]
        doc = _rendered_lines(df, cfg, params, default=None)
        if doc is None:   # no template: whole row as a JSON doc
            doc = df.select(F.to_json(F.struct(*df.columns))
                            .alias("line"))
        df2 = doc.withColumn(
            "__idx", F.lit(params.get("searchIndex", "system")))
        lp = {k.lower(): v for k, v in params.items()}
        _with_retry(params, omelasticsearch_sink(
            "__idx", None, "line",
            write_operation=str(lp.get("writeoperation", "index")),
            error_file=lp.get("errorfile"),
            transport=_es_http_transport(
                urls, uid=params.get("uid"), pwd=params.get("pwd"),
                apikey=lp.get("apikey"),
                tls=_es_tls_options(lp))))(df2, 0)
        run.written[name] = urls[0]
        return
    if typ == "omclickhouse":
        from rsyslog_spark.streaming.sinks import omclickhouse_sink

        lp = {k.lower(): v for k, v in params.items()}
        lines = _rendered_lines(df, cfg, params)
        _with_retry(params, omclickhouse_sink(
            "line",
            server=str(lp.get("server", "localhost")),
            port=int(lp.get("port", "8123")),
            use_https=str(lp.get("usehttps", "off")).lower() in (
                "on", "true", "1"),
            uid=lp.get("uid"), pwd=lp.get("pwd"),
            bulkmode=str(lp.get("bulkmode", "on")).lower() in (
                "on", "true", "1"),
            max_bytes=int(lp.get("maxbytes", 0) or 0),
            error_file=lp.get("errorfile")))(lines, 0)
        run.written[name] = (
            f"clickhouse://{lp.get('server', 'localhost')}:"
            f"{lp.get('port', '8123')}")
        return
    if typ == "omhttp" and params.get("server"):
        from rsyslog_spark.streaming.sinks import omhttp_sink

        # profile= presets (omhttp.c:2319-2440 applyProfileSettings;
        # ChangeLog 2025-11-12 'explicit splunk HEC profile'):
        # defaults apply only where the user set nothing
        prof = str(next((v for k, v in params.items()
                         if k.lower() == "profile"), "")).lower()
        if prof:
            presets: dict = {}
            if prof == "loki":
                presets = {"restpath": "loki/api/v1/push",
                           "batch": "on",
                           "batch.format": "lokirest",
                           "compress": "on"}
            elif prof == "hec:splunk:raw":
                presets = {"restpath": "services/collector/raw",
                           "batch.format": "newline"}
            elif prof == "hec:splunk:event":
                presets = {"restpath": "services/collector/event",
                           "batch": "on",
                           "batch.format": "newline"}
            else:
                raise ValueError(
                    f"omhttp: unknown profile {prof!r} - supported: "
                    "'loki', 'hec:splunk:event', 'hec:splunk:raw'")
            for k, v in presets.items():
                if not params.get(k):
                    params = {**params, k: v}
            # Splunk HEC auth: 'Authorization: Splunk <token>'
            # (SPLUNK_HEC_HEADER_AUTH) instead of Bearer
            if prof.startswith("hec:splunk") and params.get("token"):
                hs = list(params.get("httpheaders") or [])
                hs.append(f"Authorization: Splunk "
                          f"{params['token']}")
                params = {**params, "httpheaders": hs}
                params = {k: v for k, v in params.items()
                          if k != "token"}
        host = params["server"]
        if isinstance(host, (list, tuple)):   # server array: first
            host = host[0]
        port = params.get("serverport", "80")
        scheme = ("https" if str(params.get("usehttps", "off"))
                  .lower() in ("on", "true", "1") else "http")
        base = (host if "://" in host
                else f"{scheme}://{host}:{port}")
        path = "/" + str(params.get("restpath", "")).lstrip("/")
        batch_on = str(params.get("batch", "off")).lower() in (
            "on", "true", "1")
        fmt = str(params.get("batch.format", "newline")).lower()
        # headers: single key/value pair + the httpheaders array of
        # 'Key: value' strings (omhttp.c:276-278)
        hdrs = {}
        if params.get("httpheaderkey"):
            hdrs[params["httpheaderkey"]] = params.get(
                "httpheadervalue", "")
        for h in params.get("httpheaders") or []:
            k, _, v = str(h).partition(":")
            if k.strip():
                hdrs[k.strip()] = v.strip()
        transport = _omhttp_transport(
            base, path,
            fmt=fmt if batch_on else "newline",
            content_type=params.get("httpcontenttype"),
            headers=hdrs,
            uid=params.get("uid"), pwd=params.get("pwd"),
            token=params.get("token"),
            compress=str(params.get("compress", "off")).lower()
            in ("on", "true", "1"),
            compress_level=int(params.get("compress.level", "-1")),
            # replymaxbytes (ChangeLog 2026-02-07, default 1 MiB)
            reply_max_bytes=int(params.get("replymaxbytes",
                                           1024 * 1024)),
            # httpignorablecodes (omhttp.c:311,1220-1228)
            ignorable_codes=[
                int(c) for c in
                (params.get("httpignorablecodes") or [])])
        dyn = str(params.get("dynrestpath", "off")).lower() in (
            "on", "true", "1")
        doc = _rendered_lines(df, cfg, params)
        path_col = None
        if dyn and params.get("restpath") in cfg.templates:
            # dynrestpath: restpath names a TEMPLATE rendered per
            # message (omhttp.c:284; omhttp-batch-dynrestpath.sh)
            rtpl = cfg.templates[params["restpath"]]
            mtpl = cfg.templates.get(params.get("template", ""))
            doc = df.select(
                (mtpl.col(df) if mtpl is not None
                 and hasattr(mtpl, "col")
                 else F.col("msg")).alias("line"),
                rtpl.col(df).alias("__rest_path"))
            path_col = "__rest_path"
        _with_retry(params, omhttp_sink(
            "line", transport=transport,
            batch_size=(int(params.get("batch.maxsize", "100"))
                        if batch_on else 1),
            path_col=path_col))(doc, 0)
        run.written[name] = base + path
        return
    if typ == "omprog" and params.get("binary"):
        import shlex
        from rsyslog_spark.streaming.sinks import omprog_sink

        lp = {k.lower(): v for k, v in params.items()}
        lines = _rendered_lines(df, cfg, params)
        _with_retry(params, omprog_sink(
            shlex.split(params["binary"]),
            confirm_messages=str(lp.get("confirmmessages", "off")
                                 ).lower() in ("on", "true", "1"),
            confirm_timeout=float(lp.get("confirmtimeout",
                                         "10000")) / 1000.0,
            output=lp.get("output"),
            close_timeout=float(lp.get("closetimeout",
                                       "5000")) / 1000.0,
            signal_on_close=str(lp.get("signalonclose", "off")
                                ).lower() in ("on", "true", "1"),
            # paced transaction-retry splitter (ChangeLog
            # 2026-07-05 / issue 5016): the splitter honors
            # action.resumeInterval between per-message retries
            resume_retry_count=int(
                _param(params, "action.resumeRetryCount", "0")),
            resume_interval=float(
                _param(params, "action.resumeInterval", "1")),
        ))(lines, 0)
        run.written[name] = params["binary"]
        return
    if typ == "omshell" and params.get("program"):
        # legacy ^program selector (ref: tools/omshell.c; conf.c
        # cflineDoAction): program runs once per rendered message
        from rsyslog_spark.streaming.sinks import omshell_sink

        lines = _rendered_lines(df, cfg, params)
        _with_retry(params, omshell_sink(params["program"]))(lines, 0)
        run.written[name] = params["program"]
        return
    if typ == "omkafka" and params.get("broker"):
        lines = _rendered_lines(df, cfg, params)
        (lines.selectExpr("CAST(line AS STRING) AS value")
         .write.format("kafka")
         .option("kafka.bootstrap.servers", params["broker"])
         .option("topic", params.get("topic", "rsyslog")).save())
        run.written[name] = f"kafka://{params['broker']}"
        return
    if typ == "ommail" and (params.get("server")
                            or str(params.get("mode", "")
                                   ).lower() == "sendmail"):
        from rsyslog_spark.streaming.transports import ommail_sink

        lines = _rendered_lines(df, cfg, params)
        mailto = [m.strip() for m in
                  params.get("mailto", "").split(",") if m.strip()]
        mode = str(params.get("mode", "smtp")).lower()
        _with_retry(params, ommail_sink(
            params.get("server", ""), int(params.get("port", "25")),
            mailfrom=params.get("mailfrom", "rsyslog@localhost"),
            mailto=mailto,
            subject=params.get("subject.text", "syslog message"),
            body_enable=params.get("body.enable", "on") != "off",
            mode=mode,
            sendmail_binary=params.get("sendmail.binary",
                                       "/usr/sbin/sendmail"),
        ))(lines, 0)
        run.written[name] = (f"sendmail://{mailto}" if mode ==
                             "sendmail" else
                             f"smtp://{params['server']}")
        return
    if typ == "omsnmp" and params.get("server"):
        from rsyslog_spark.streaming.transports import omsnmp_sink

        lines = _rendered_lines(df, cfg, params)
        _with_retry(params, omsnmp_sink(
            params["server"], int(params.get("port", "162")),
            version=params.get("version", "snmpv2c"),
            community=params.get("community", "public"),
        ))(lines, 0)
        run.written[name] = f"snmp://{params['server']}"
        return
    if typ == "omhiredis" and params.get("server"):
        from rsyslog_spark.streaming.transports import omhiredis_sink

        lines = _rendered_lines(df, cfg, params)
        _with_retry(params, omhiredis_sink(
            params["server"], int(params.get("serverport", "6379")),
            mode=params.get("mode", "queue"),
            key=params.get("key", "rsyslog"),
            use_rpush=params.get("userpush", "off") == "on",
            expiration=int(params.get("expiration", "0")),
        ))(lines, 0)
        run.written[name] = f"redis://{params['server']}"
        return
    if typ == "omuxsock" and params.get("socket"):
        from rsyslog_spark.streaming.transports import omuxsock_sink

        lines = _rendered_lines(df, cfg, params)
        _with_retry(params, omuxsock_sink(params["socket"]))(lines, 0)
        run.written[name] = params["socket"]
        return
    if typ == "omstdout":
        from rsyslog_spark.streaming.transports import omstdout_sink

        omstdout_sink()(_rendered_lines(df, cfg, params), 0)
        run.written[name] = "stdout"
        return
    if typ == "omotel" and (params.get("endpoint") or params.get("url")):
        from rsyslog_spark.streaming.transports import omotel_sink

        url = params.get("endpoint") or params.get("url")
        _with_retry(params, omotel_sink(url))(df, 0)
        run.written[name] = url
        return
    run.unbound.append((name, df, params))


def _param(params: dict, name: str, default: str) -> str:
    """Case-insensitive action-parameter lookup (config authors mix
    action.resumeRetryCount spellings)."""
    lo = name.lower()
    for k, v in params.items():
        if k.lower() == lo:
            return v
    return default


def _with_retry(params: dict, write_fn):
    """Wrap a transport write with the reference's action retry loop
    when the action sets action.resumeRetryCount (ref: runtime/
    action.h:77-80 iResumeInterval/iResumeRetryCount)."""
    retries = int(_param(params, "action.resumeRetryCount", "0"))
    if retries <= 0:
        return write_fn
    from rsyslog_spark.streaming.sinks import retrying_foreach_batch

    return retrying_foreach_batch(
        write_fn, max_retries=retries,
        resume_interval_s=float(_param(params, "action.resumeInterval",
                                       "1")))


#: injectable SRV resolver for omfwd targetSrv — signature
#: resolver(name) -> list of (priority, weight, port, host) tuples.
#: None = use dnspython when importable, else config error (the
#: reference needs libresolv the same way; tests inject a mock).
SRV_RESOLVER = None


def _resolve_srv_targets(domain: str, proto: str
                         ) -> list[tuple[str, int]]:
    """omfwd targetSrv discovery (ChangeLog 2026-01-02;
    omfwd.c:560-700 resolveSrvTargets): query
    ``_syslog._{tcp|udp}.<domain>``, strip trailing dots from target
    names, reject empty answers ('no usable SRV records found'),
    order by PRIORITY ascending. DOCUMENTED DIVERGENCE: within one
    priority group the reference weight-shuffles RANDOMLY
    (omfwd.c:665-695); here the group orders deterministically by
    weight descending (then host/port) — load spreads via the LB
    pool's round-robin anyway, and deterministic order keeps runs
    reproducible."""
    name = f"_syslog._{'tcp' if proto == 'tcp' else 'udp'}.{domain}"
    resolver = SRV_RESOLVER
    if resolver is None:
        try:
            import dns.resolver as _dns  # optional, public lib
        except ImportError:
            raise ValueError(
                f"omfwd: targetSrv={domain!r} needs an SRV resolver "
                "(dnspython not importable and no SRV_RESOLVER "
                "injected)")

        def resolver(n):
            return [(r.priority, r.weight, r.port,
                     str(r.target).rstrip("."))
                    for r in _dns.resolve(n, "SRV")]
    try:
        recs = list(resolver(name))
    except Exception as e:
        raise ValueError(
            f"omfwd: failed to resolve SRV records for '{name}': "
            f"{e}") from e
    recs = [(int(pr), int(w), int(port), str(h).rstrip("."))
            for pr, w, port, h in recs if h and int(port) > 0]
    if not recs:
        raise ValueError(
            f"omfwd: no usable SRV records found for '{name}'")
    recs.sort(key=lambda r: (r[0], -r[1], r[3], r[2]))
    return [(h, port) for _pr, _w, port, h in recs]


def _es_base_url(server: str, default_port: int,
                 use_https: bool) -> str:
    """omelasticsearch computeBaseUrl (omelasticsearch.c:468-515,
    incl. the 2026-04-15 IPv6 fix): prefix the scheme when the
    server string lacks one, then append ``:serverport`` UNLESS an
    explicit port is already embedded — for ``[v6]`` bracket
    notation a port only counts when the ':' appears AFTER the
    closing ']' (a bare IPv6 address is full of colons; the old
    strchr check never appended the port). Trailing '/' included."""
    server = server.rstrip("/")
    low = server.lower()
    if low.startswith("http://"):
        base, host = server, server[len("http://"):]
    elif low.startswith("https://"):
        base, host = server, server[len("https://"):]
    else:
        host = server
        base = ("https://" if use_https else "http://") + server
    if host.startswith("["):
        bracket_end = host.find("]")
        has_port = bracket_end >= 0 and ":" in host[bracket_end:]
    else:
        has_port = ":" in host
    if not has_port:
        base += f":{default_port}"
    return base + "/"


_ES_TLS_VERSIONS = ("TLSv1.2", "TLSv1.3")


def _es_tls_options(lp: dict) -> dict | None:
    """omelasticsearch TLS knobs (ChangeLog 2026-07-05;
    omelasticsearch.c:2529-2560 param parse, 2277-2308
    curlSetupTlsOptions). ``tls.tlsversion`` is validated against
    the reference's version map — only TLSv1.2 / TLSv1.3; an unknown
    value is a config-load error (RS_RET_PARAM_ERROR analog).
    ``tls.ciphersuites`` / ``tls.keyexchangegroups`` parse and store
    always; when the runtime stack cannot apply them (Python's ssl
    module does not wrap SSL_CTX_set_ciphersuites /
    SSL_CTX_set1_groups) we warn that the option will be ignored —
    the exact contract the reference applies when built against a
    libcurl older than 7.61 / 7.73 (omelasticsearch.c:2549-2559).
    The one validated option set is shared by every connection the
    action opens, mirroring the 2026-07-05 fix that made startup
    platform detection use the same TLS options as worker handles."""
    ver = lp.get("tls.tlsversion")
    cs = lp.get("tls.ciphersuites")
    kx = lp.get("tls.keyexchangegroups")
    if ver is None and cs is None and kx is None:
        return None
    if ver is not None and str(ver) not in _ES_TLS_VERSIONS:
        raise ValueError(
            f"omelasticsearch: unknown tls.tlsversion '{ver}'; "
            "accepted: TLSv1.2, TLSv1.3")
    import warnings
    if cs is not None:
        warnings.warn(
            "omelasticsearch: tls.ciphersuites set but the runtime "
            "TLS stack cannot apply TLS 1.3 cipher-suite lists; "
            "option will be ignored")
    if kx is not None:
        warnings.warn(
            "omelasticsearch: tls.keyexchangegroups set but the "
            "runtime TLS stack cannot apply key-exchange group "
            "lists; option will be ignored")
    return {"tlsversion": str(ver) if ver is not None else None,
            "ciphersuites": str(cs) if cs is not None else None,
            "keyexchangegroups": str(kx) if kx is not None else None}


def _es_ssl_context(tls: dict | None):
    """Build the shared SSLContext for https ES connections from the
    validated knob set (curlSetupTlsOptions analog —
    omelasticsearch.c:2285-2308): tlsversion pins BOTH minimum and
    maximum protocol version the way CURLOPT_SSLVERSION's
    CURL_SSLVERSION_TLSv1_2/1_3 pins the floor."""
    import ssl

    ctx = ssl.create_default_context()
    if tls and tls.get("tlsversion"):
        floor = {"TLSv1.2": ssl.TLSVersion.TLSv1_2,
                 "TLSv1.3": ssl.TLSVersion.TLSv1_3}[tls["tlsversion"]]
        ctx.minimum_version = floor
    return ctx


def _es_http_transport(url: str | list[str], *,
                       uid: str | None = None,
                       pwd: str | None = None,
                       apikey: str | None = None,
                       tls: dict | None = None):
    """Bulk-POST transport for omelasticsearch actions: NDJSON body →
    failed line numbers from the ES items response (ref:
    omelasticsearch.c:227-253 retryfailures response parsing).

    ``url`` accepts a LIST for the HA server array (es-basic-ha.sh):
    a connect-level failure fails over to the next server; only when
    every server is unreachable does the error propagate.

    Auth: Basic (uid/pwd) or 'Authorization: ApiKey <key>'
    (ChangeLog 2025-10-29; omelasticsearch.c:2625) — combining both
    is a config error (omelasticsearch.c:2613)."""
    if apikey and (uid or pwd):
        raise ValueError(
            "omelasticsearch: apikey cannot be combined with "
            "uid/pwd")
    urls = list(url) if isinstance(url, (list, tuple)) else [url]

    def post(body: str) -> list[int]:
        import base64
        import json as _json
        import urllib.error
        import urllib.request

        hdrs = {"Content-Type": "application/x-ndjson"}
        if apikey:
            hdrs["Authorization"] = f"ApiKey {apikey}"
        elif uid is not None:
            cred = base64.b64encode(
                f"{uid}:{pwd or ''}".encode()).decode()
            hdrs["Authorization"] = f"Basic {cred}"
        payload = None
        last_err: Exception | None = None
        ssl_ctx = (_es_ssl_context(tls)
                   if any(u.startswith("https://") for u in urls)
                   else None)
        for u in urls:
            req = urllib.request.Request(
                u, data=body.encode("utf-8"), headers=hdrs)
            try:
                with urllib.request.urlopen(
                        req, timeout=30,
                        context=(ssl_ctx if u.startswith("https://")
                                 else None)) as resp:
                    payload = _json.loads(resp.read() or b"{}")
                break
            except urllib.error.HTTPError as e:
                # 401/403 get an explicit authentication diagnostic
                # and still raise → action suspends (ChangeLog
                # 2025-07-17: auth errors were silently treated as
                # success). HTTP-level errors do NOT fail over — the
                # server IS reachable.
                if e.code in (401, 403):
                    raise RuntimeError(
                        f"omelasticsearch: authentication failed "
                        f"(HTTP {e.code}) posting to {u}") from e
                raise
            except (urllib.error.URLError, OSError) as e:
                last_err = e        # connect failure → next server
        if payload is None:
            raise RuntimeError(
                f"omelasticsearch: all servers unreachable "
                f"({urls}): {last_err}") from last_err
        failed = []
        for i, item in enumerate(payload.get("items", [])):
            result = next(iter(item.values()), {}) or {}
            status = result.get("status", 200)
            if status >= 300:
                # classify per isRetryableBulkStatus
                # (omelasticsearch.c:1359-1374): 429/5xx retryable;
                # 403 retryable only for cluster_block_exception
                # (a read-only index block) — ChangeLog 2026-06-29
                err = result.get("error")
                etype = (err.get("type")
                         if isinstance(err, dict) else None)
                from rsyslog_spark.streaming.sinks import (
                    es_item_retryable,
                )
                failed.append(
                    (i, es_item_retryable(int(status), etype)))
        return failed

    return post


def _http_post_transport(url: str):
    """Batched line-POST transport for omhttp actions."""
    def post(chunk: list[str]) -> None:
        import urllib.request

        req = urllib.request.Request(
            url, data=("\n".join(chunk)).encode("utf-8"),
            headers={"Content-Type": "text/plain"})
        urllib.request.urlopen(req, timeout=30).read()

    return post


def _omhttp_transport(base: str, path: str, *, fmt: str = "newline",
                      content_type: str | None = None,
                      headers: dict | None = None,
                      uid: str | None = None, pwd: str | None = None,
                      token: str | None = None,
                      compress: bool = False,
                      compress_level: int = -1,
                      reply_max_bytes: int = 1024 * 1024,
                      ignorable_codes: list[int] | None = None):
    """omhttp HTTP client (contrib/omhttp/omhttp.c buildCurlHeaders /
    serializeBatch*): batch-format body, custom headers, basic auth
    (uid/pwd) or bearer token, gzip Content-Encoding on compress.

    ``reply_max_bytes`` (omhttp 'replymaxbytes', ChangeLog
    2026-02-07, default 1 MiB): the response body is read at most to
    the cap; a larger reply aborts the transfer with an error (the
    reference truncates the buffer and fails the transfer) instead
    of buffering unboundedly.

    ``ignorable_codes`` (omhttp 'httpignorablecodes',
    omhttp.c:1220-1228; golden omhttp-basic-ignorecodes.sh): HTTP
    error statuses in this list count as PROCESSED — the batch is
    not retried for them."""
    def post(chunk: list[str], dyn_path: str | None = None) -> None:
        import base64
        import urllib.request

        from rsyslog_spark.streaming.sinks import omhttp_serialize

        body, ctype = omhttp_serialize(chunk, fmt)
        hdrs = {"Content-Type": content_type or ctype}
        hdrs.update(headers or {})
        if uid is not None:
            cred = base64.b64encode(
                f"{uid}:{pwd or ''}".encode()).decode()
            hdrs["Authorization"] = f"Basic {cred}"
        elif token:
            hdrs["Authorization"] = f"Bearer {token}"
        if compress:
            import zlib
            co = zlib.compressobj(
                compress_level if compress_level >= 0 else -1,
                zlib.DEFLATED, 31)   # 31 = gzip container
            body = co.compress(body) + co.flush()
            hdrs["Content-Encoding"] = "gzip"
        p = ("/" + dyn_path.lstrip("/")) if dyn_path else path
        req = urllib.request.Request(base + p, data=body,
                                     headers=hdrs)
        import urllib.error
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                got = resp.read(reply_max_bytes + 1)
                if len(got) > reply_max_bytes:
                    raise RuntimeError(
                        "omhttp: reply exceeds replymaxbytes="
                        f"{reply_max_bytes} - transfer aborted")
        except urllib.error.HTTPError as e:
            if ignorable_codes and e.code in ignorable_codes:
                return   # processed: configured as ignorable
            raise

    return post


def _apply_main_queue_directives(
    frame: DataFrame, cfg: ParsedConfig, *, batch_rows: int | None = None,
) -> DataFrame:
    """Activate legacy main-queue directives that map to implemented
    operators (ref: runtime/cfsysline.c directive table):

    * ``$RepeatedMsgReduction on`` → inline run collapse
      (operators/stats.repeated_msg_collapse) — consecutive identical
      messages per host become first row + 'last message repeated n
      times'.
    * ``$MainMsgQueueDiscardSeverity`` (+ ``...DiscardMark`` /
      ``...Size``) → the queue overload-shedding gate: when the batch
      exceeds the discard mark, rows at or above the discard severity
      (numerically >=, i.e. less important) are dropped. Defaults
      mirror the reference: size 10000, discard mark 97.5% of size,
      severity 8 = never (runtime/queue.c defaults).

    ``batch_rows`` lets streaming callers pass the micro-batch size
    they already know; batch mode counts once (only when a discard
    severity is actually configured).
    """
    from rsyslog_spark.schema import SEVERITIES

    d = cfg.directives
    sev_raw = d.get("mainmsgqueuediscardseverity")
    if sev_raw is not None:
        s = sev_raw.strip().strip('"').lower()
        sev_n = SEVERITIES.get(s, None)
        if sev_n is None:
            try:
                sev_n = int(s)
            except ValueError:
                sev_n = 8
        if sev_n <= 7:
            size = int(d.get("mainmsgqueuesize", "10000"))
            mark = int(d.get("mainmsgqueuediscardmark",
                             str(int(size * 0.975))))
            n = batch_rows if batch_rows is not None else frame.count()
            if n > mark:
                frame = frame.filter(
                    F.col("syslogseverity") < F.lit(sev_n))
    if d.get("repeatedmsgreduction", "off").strip().lower() == "on":
        from rsyslog_spark.operators.stats import repeated_msg_collapse

        frame = repeated_msg_collapse(
            frame, ["hostname"], "msg", "timereported")
    return frame


def _ruleset_parser_chain(cfg: ParsedConfig, ruleset: str) -> tuple:
    """Resolve ruleset(parser="name") through parser() objects to a
    parse_syslog chain (ref: per-ruleset parser list, runtime/
    parser.c:615-660). Unknown parser types keep the default chain —
    vendor parsers run as mm-style operator stages here."""
    pnames = (cfg.ruleset_params.get(ruleset) or {}).get("parser")
    if not pnames:
        return ("pmrfc5424", "pmrfc3164")
    if isinstance(pnames, str):
        pnames = [pnames]
    # built-in parser names bind without a parser() object (ref:
    # parser.c default parser registry; golden
    # hostname-with-slash-pmrfc5424.sh '$rulesetparser
    # rsyslog.rfc5424'); parser=[...] ARRAYS resolve each entry in
    # order (ruleset parser list — golden pmnull-withparams.sh)
    builtin = {"rsyslog.rfc5424": "pmrfc5424",
               "rsyslog.rfc3164": "pmrfc3164",
               "rsyslog.pmnull": "pmnull"}
    types: list[str] = []
    for pname in pnames:
        bt = builtin.get(str(pname).lower())
        if bt:
            types.append(bt)
            continue
        types.extend(p.get("type") for p in
                     cfg.objects.get("parser", [])
                     if p.get("name") == pname)
    known = tuple(t for t in types
                  if t in ("pmrfc5424", "pmrfc3164", "pmnull"))
    return known or ("pmrfc5424", "pmrfc3164")


def _pmnull_opts(cfg: ParsedConfig, ruleset: str) -> dict | None:
    """pmnull instance params when the ruleset's FIRST parser is a
    pmnull instance (ref: plugins/pmnull/pmnull.c:95-148 — TAG and
    PRI come from the parser config, MSG is the whole raw line;
    golden pmnull-withparams.sh). None when pmnull isn't first."""
    pnames = (cfg.ruleset_params.get(ruleset) or {}).get("parser")
    if not pnames:
        return None
    first = pnames[0] if isinstance(pnames, list) else pnames
    if str(first).lower() == "rsyslog.pmnull":
        return {"tag": "", "facility": 1, "severity": 5}
    for p in cfg.objects.get("parser", []):
        if p.get("name") == first and p.get("type") == "pmnull":
            return {"tag": str(p.get("tag", "")),
                    "facility": int(p.get("syslogfacility", 1)),
                    "severity": int(p.get("syslogseverity", 5))}
    return None


def _pm3164_opts(cfg: ParsedConfig, ruleset: str
                 ) -> tuple[dict, dict | None]:
    """Per-parser-instance pmrfc3164 options from parser() objects
    (ref: pmrfc3164.c createInstance/newParserInst —
    force.tagEndingByColon, detect.headerless + headerless.*).
    Returns (parse_syslog kwargs, headerless route spec or None)."""
    pname = (cfg.ruleset_params.get(ruleset) or {}).get("parser")
    if not pname:
        return {}, None
    # parser= accepts a single name or an array (ruleset.c parser=
    # [..]); instance options bind whichever pmrfc3164 member is in
    # the chain
    pnames = pname if isinstance(pname, (list, tuple)) else [pname]
    kwargs: dict = {}
    route: dict | None = None
    for p in cfg.objects.get("parser", []):
        if p.get("name") not in pnames \
                or p.get("type") != "pmrfc3164":
            continue
        lp = {k.lower(): v for k, v in p.items()}

        def flag(key):
            return str(lp.get(key, "off")).lower() in (
                "on", "true", "1")
        if flag("force.tagendingbycolon"):
            kwargs["force_tag_colon"] = True
        if "remove.msgfirstspace" in lp:
            # per-instance form of the global directive
            # (pmrfc3164.c:64 'remove.msgfirstspace'; golden
            # pmrfc3164-msgFirstSpace.sh)
            kwargs["remove_msg_first_space"] = flag(
                "remove.msgfirstspace")
        if flag("permit.atsignsinhostname"):
            kwargs["permit_at_hostname"] = True
        if flag("permit.slashesinhostname"):
            kwargs["permit_slashes_hostname"] = True
        if flag("permit.squarebracketsinhostname"):
            kwargs["permit_brackets_hostname"] = True
        if flag("detect.headerless"):
            kwargs["headerless"] = (
                lp.get("headerless.hostname"),
                lp.get("headerless.tag"))
            route = {
                "ruleset": lp.get("headerless.ruleset"),
                "drop": flag("headerless.drop"),
                "errorfile": lp.get("headerless.errorfile"),
            }
    return kwargs, route


def _tz_table(cfg) -> dict[str, str]:
    """timezone(id=.. offset=..) objects → abbreviation table (ref:
    runtime/timezones.c glblProcessTimezone / addTimezoneInfo)."""
    return {str(o.get("id")): str(o.get("offset"))
            for o in cfg.objects.get("timezone", [])
            if o.get("id") and o.get("offset")}


def _vendor_parser_stage(cfg, ruleset: str):
    """Vendor parsers referenced by ruleset(parser=..) run as a
    post-chain stage. pmciscoios consumes the config's timezone()
    table during its TZSTRING timestamp parse (the reference's only
    PARSE3164_TZSTRING caller — pmciscoios.c:206)."""
    pname = (cfg.ruleset_params.get(ruleset) or {}).get("parser")
    if not pname:
        return None
    types = [p.get("type") for p in cfg.objects.get("parser", [])
             if p.get("name") == pname]
    if "pmciscoios" in types:
        from rsyslog_spark.parsers.vendors import pmciscoios
        tz = _tz_table(cfg)
        return lambda df: pmciscoios(df, timezones=tz or None)
    return None


def _parser_opts(cfg) -> dict:
    """Global parser-option directives → parse_syslog kwargs.

    removeMsgFirstSpace: our engine default is ON (strip the MSG
    leading space); the reference parser's own default is 0
    (pmrfc3164.c:121,510) — "off" restores reference-exact raw %msg%
    (COVERAGE §2.2 row documents the divergent default)."""
    def flag(key: str, default: str) -> bool:
        return cfg.directives.get(key, default).lower() in (
            "on", "true", "1")

    return {
        "permit_slashes_in_programname":
            flag("parser.permitslashesinprogramname", "off"),
        "remove_msg_first_space":
            flag("parser.removemsgfirstspace", "on"),
    }


def _imkafka_opts(inp: dict) -> dict:
    """Normalize ``input(type="imkafka" ...)`` params (ref: plugins/
    imkafka/imkafka.c:213-219 inppdescr: topic REQUIRED array,
    broker/confParam arrays, consumergroup/ruleset strings,
    parsehostname / split.json.records binary; :1030 broker default
    localhost:9092 when unset)."""
    lin = {k.lower(): v for k, v in inp.items()}

    def arr(key: str) -> list[str]:
        v = lin.get(key)
        if v is None:
            return []
        return [str(x) for x in v] if isinstance(v, list) else [str(v)]

    def on(key: str) -> bool:
        return str(lin.get(key, "off")).lower() in ("on", "true", "1")

    return {
        "brokers": ",".join(arr("broker")) or "localhost:9092",
        "topics": ",".join(arr("topic")),
        "consumergroup": lin.get("consumergroup"),
        "conf_params": arr("confparam"),
        "split_json": on("split.json.records"),
        "parse_hostname": on("parsehostname"),
    }


def _stamp_receiver_hostname(frame: DataFrame) -> DataFrame:
    """parsehostname="off" (the imkafka default): the reference sets
    msgFlags = NEEDS_PARSING without PARSE_HOSTNAME (imkafka.c:1022),
    so pmrfc3164 never extracts a hostname token and the message
    keeps the receiver's local hostname. Divergence (documented): our
    chain still consumes a hostname-shaped token from the header
    rather than folding it into TAG/MSG; only the stamped value
    matches the reference."""
    from rsyslog_spark.session import local_hostname

    lh = local_hostname()
    out = frame
    for c in ("hostname", "fromhost"):
        if c in frame.columns:
            out = out.withColumn(c, F.lit(lh))
    return out


def run_config_batch(
    spark: SparkSession,
    conf_src: str,
    *,
    input_path: str | None = None,
    tables: dict[str, Any] | None = None,
    main: str | None = None,
    sink_overrides: dict | None = None,
) -> ConfigRun:
    """Parse + execute a config against file input in batch mode.

    ``input_path`` overrides the config's ``input(type="imfile"
    file=...)`` path (tests point it at a tmp dir). Every omfile
    action with a ``file`` param writes there (text when the action
    names a template, parquet otherwise).
    """
    eng, cfg = load_config(conf_src, tables=tables)
    # MULTIPLE imfile inputs (each bound to its ruleset) run as one
    # batch per input — the reference starts every input and routes
    # per binding (rsconf.c activation; golden empty-ruleset.sh two
    # listeners). Sinks append, so outputs accumulate across inputs.
    imfiles = [i for i in cfg.inputs if i.get("type") == "imfile"]
    if input_path is None and main is None and len(imfiles) > 1:
        agg = ConfigRun()
        for i in imfiles:
            sub = run_config_batch(
                spark, conf_src, input_path=i.get("file"),
                main=i.get("ruleset"), tables=tables,
                sink_overrides=sink_overrides)
            agg.written.update(sub.written)
            agg.unbound.extend(sub.unbound)
            agg.dynstats.update(sub.dynstats)
            agg.action_stats.update(sub.action_stats)
            for tname, ctr in sub.omfwd_stats.items():
                a = agg.omfwd_stats.setdefault(tname, {
                    "bytes.sent": 0, "messages.sent": 0,
                    "num.connects": 0})
                for k, v in ctr.items():
                    a[k] += v
            agg.survivors = sub.survivors
        return agg
    path = input_path
    pcap_inp = None
    kafka_inp = None
    ruleset_name = main
    for inp in cfg.inputs:
        if inp.get("type") == "imfile" and path is None:
            path = inp.get("file")
        elif inp.get("type") == "impcap" and inp.get("file") \
                and path is None and pcap_inp is None:
            pcap_inp = inp
        elif inp.get("type") == "imkafka" and kafka_inp is None:
            kafka_inp = inp
        if ruleset_name is None and inp.get("ruleset"):
            ruleset_name = inp["ruleset"]
    if kafka_inp is not None and pcap_inp is None and path is None:
        # batch replay of an imkafka input: input_path is the
        # injected consumer feed (one kafka payload per line — the
        # reference tests feed the topic via kcat, tests/imkafka.sh)
        raise ValueError(
            "imkafka batch replay needs input_path (the injected "
            "consumer feed file)")
    if path is None and pcap_inp is None:
        raise ValueError("no imfile input in config and no input_path")
    if ruleset_name is None or ruleset_name not in cfg.rulesets:
        # undefined binding: warn-and-default, like the reference's
        # rulesetGetRuleset fallback (runtime/ruleset.c)
        ruleset_name = cfg.main if cfg.main in cfg.rulesets \
            else next(iter(cfg.rulesets))

    if pcap_inp is not None:
        # input(type="impcap" file=...) replay mode: decode packet
        # payloads and feed them to the parser chain (streaming/pcap)
        import os as _os

        from rsyslog_spark.streaming.pcap import impcap

        pdir = _os.path.dirname(pcap_inp["file"]) or "."
        glob = _os.path.basename(pcap_inp["file"])
        lines = (impcap(spark, pdir, glob=glob)
                 .select(F.col("payload").cast("string").alias("line"))
                 .filter(F.col("line").isNotNull()
                         & (F.length("line") > 0)))
    else:
        imf = next((i for i in cfg.inputs
                    if i.get("type") == "imfile"
                    and (input_path is None or i.get("file") == path)),
                   {})
        ml = (imf.get("startmsg.regex") or imf.get("endmsg.regex")
              or imf.get("escapelf.replacement")
              or imf.get("readMode") or imf.get("readmode")
              or imf.get("addMetadata") or imf.get("addmetadata"))
        # ignoreOlderThan: skip files whose mtime at discovery is
        # older than N seconds (imfile.c; goldens
        # imfile-ignore-old-file-{1..7}.sh). A refreshed mtime makes
        # the file eligible again, reading from the start — batch
        # re-runs reproduce that discovery-time behavior. (The
        # STREAMING file source tracks processed files in its
        # checkpoint instead; old-file exclusion there is a startup
        # concern the checkpoint subsumes — divergence documented in
        # COVERAGE.)
        iot = int(imf.get("ignoreolderthan", "0") or 0)
        if iot > 0 and path:
            from rsyslog_spark.streaming.sources import (
                ignore_older_than_paths)
            eligible = ignore_older_than_paths(path, iot)
            if not eligible:
                lines = spark.createDataFrame([], "line string")
                ml = None
                path = None
            else:
                path = eligible
        if path is None and iot > 0:
            pass   # empty frame built above
        elif ml:
            from rsyslog_spark.streaming.sources import imfile_batch
            lines = imfile_batch(
                spark, path,
                startmsg_regex=imf.get("startmsg.regex"),
                endmsg_regex=imf.get("endmsg.regex"),
                read_mode=int(imf.get("readMode",
                                      imf.get("readmode", "0"))),
                escapelf_replacement=imf.get("escapelf.replacement"),
                add_metadata=str(imf.get(
                    "addMetadata", imf.get("addmetadata", "off"))
                ).lower() in ("on", "true", "1"))
        else:
            lines = spark.read.text(path) \
                .withColumnRenamed("value", "line")
    # imkafka batch replay only when the feed IS the kafka one (no
    # imfile input competes for input_path)
    kafka_replay = (
        _imkafka_opts(kafka_inp)
        if kafka_inp is not None and pcap_inp is None
        and not any(i.get("type") == "imfile" for i in cfg.inputs)
        else None)
    if kafka_replay is not None and kafka_replay["split_json"]:
        from rsyslog_spark.streaming.sources import split_json_records
        lines = split_json_records(lines)
    if str(cfg.directives.get(
            "parser.droptrailingcronreception", "off")).lower() in (
            "on", "true", "1"):
        # global(parser.dropTrailingCROnReception) — strip ONE CR
        # left after LF framing (SanitizeMsg; golden
        # parser-drop-trailing-cr.sh; without it the CR escapes as
        # #015 under the cc options)
        lines = lines.withColumn(
            "line", F.regexp_replace("line", r"\r$", ""))
    lines = _apply_oversize_policy(lines, cfg)
    lines = _apply_escape_on_receive(lines, cfg)
    lines = _apply_snare_prestage(lines, cfg, ruleset_name)
    pm_opts, hl_route = _pm3164_opts(cfg, ruleset_name)
    # imfile needparse (ref: imfile.c:420,1611-1614 — the REFERENCE
    # default is OFF: no header parse, MSG = whole line, TAG/PRI
    # from the input config, hostname = local. The ENGINE default
    # stays ON so configs driven through imfile-as-wire-stand-in in
    # tests parse like imtcp; divergent default documented in
    # COVERAGE §2.1. Explicit needparse="off" restores the
    # reference's file semantics — golden
    # imfile-escapelf.replacement.sh.)
    needparse = str(imf.get("needparse", "on")).lower() \
        in ("on", "true", "1") if pcap_inp is None else True
    pmnull = _pmnull_opts(cfg, ruleset_name)
    if pmnull is not None:
        # pmnull-first chain: no parse at all — TAG/PRI from the
        # parser instance, MSG = the whole raw line (pmnull.c:140-148)
        frame = _noparse_frame(lines, pmnull)
    elif not needparse:
        frame = _noparse_frame(lines, imf)
    else:
        frame = parse_syslog(
            lines, parsers=_ruleset_parser_chain(cfg, ruleset_name),
            inputname=("imkafka" if kafka_replay is not None
                       else "imfile"),
            **{**_parser_opts(cfg), **pm_opts})
    if kafka_replay is not None \
            and not kafka_replay["parse_hostname"]:
        frame = _stamp_receiver_hostname(frame)
    vstage = _vendor_parser_stage(cfg, ruleset_name)
    if vstage is not None:
        frame = vstage(frame)
    # per-source ratelimit at submission (ratelimitAddMsg — before
    # the ruleset runs; imptcp-persource-ratelimit-policy.sh)
    frame = _apply_persource_ratelimit(
        cfg, imf if pcap_inp is None else pcap_inp, frame)
    # headerless routing (pmrfc3164 handleHeaderlessMessage): error
    # file, drop, or a dedicated ruleset for headerless rows
    hdr_frame = None
    hl_ruleset = None
    if hl_route is not None and "headerless" in frame.columns:
        hdr_frame = frame.filter(F.col("headerless"))
        if hl_route.get("errorfile"):
            # stream partition-by-partition (bounded driver memory —
            # a 100%-headerless feed must not OOM the driver the way
            # a whole-batch collect() would)
            with open(hl_route["errorfile"], "a",
                      encoding="utf-8") as fh:
                for r in hdr_frame.select("rawmsg").toLocalIterator():
                    fh.write(r[0] + "\n")
        if hl_route.get("drop"):
            frame = frame.filter(~F.col("headerless"))
            hdr_frame = None
        elif hl_route.get("ruleset") in cfg.rulesets:
            hl_ruleset = hl_route["ruleset"]
            frame = frame.filter(~F.col("headerless"))
        else:
            hdr_frame = None
    frame = _apply_main_queue_directives(frame, cfg)
    # persist the parsed batch once, every action filters from it —
    # the reference's direct-action batch commit (ruleset.c:632; the
    # streaming path does the same via fanout_sink). Without this,
    # N actions re-parse the input N times.
    rs = cfg.rulesets.get(ruleset_name)
    multi_action = rs is not None and len(rs.stmts) > 1
    if multi_action:
        frame = frame.persist()
    est = _estimate_input_bytes(path if pcap_inp is None
                                else pcap_inp.get("file"))
    # global(operatingStateFile=) — crash-forensics journal
    # (runtime/operatingstate.c; goldens operatingstate-*.sh)
    osf = None
    osf_path = cfg.directives.get("operatingstatefile")
    if osf_path:
        from rsyslog_spark.config.opstate import OperatingStateFile
        import warnings as _w
        with _w.catch_warnings(record=True) as _rec:
            _w.simplefilter("always")
            osf = OperatingStateFile(str(osf_path))
        for r in _rec:
            osf.msg(str(r.message))
            _w.warn(str(r.message))   # still surfaces like LogError
    try:
        with _small_batch_codegen(spark, est):
            run = _run_batch_actions(eng, cfg, frame, ruleset_name,
                                     hdr_frame, hl_ruleset,
                                     sink_overrides, multi_action)
        if osf is not None:
            for nm, df_p, params in run.unbound:
                # the reference logs module-load/type errors into the
                # osf (operatingstate-basic.sh 'invalid-type')
                osf.msg(f"action type '{params.get('type', nm)}' "
                        "has no runtime binding")
            for nm, err in run.suspended.items():
                osf.msg(f"action '{nm}' suspended: {err}")
        return run
    finally:
        if osf is not None:
            osf.close()


def _dispatch_action_seq(cfg, ruleset_name, actions, run,
                         sink_overrides,
                         rl_states: dict | None = None) -> None:
    """Execute a ruleset's actions in order with the reference's
    SUSPEND semantics (runtime/action.c): a failing OUTPUT action
    suspends ITSELF — the rest of the config keeps running — and an
    action marked execOnlyWhenPreviousIsSuspended runs only while the
    directly preceding action is suspended (failover-basic/-double/
    -no-basic.sh: dead @@primary → '&' file fallback gets every
    message; healthy primary → fallback file stays empty). Config/
    compile errors (ValueError & friends, AnalysisException) still
    raise — only runtime sink failures suspend."""
    import warnings as _warnings

    from pyspark.errors import AnalysisException

    prev_suspended = False
    for name, df in actions:
        params = _action_params(cfg, ruleset_name, name)
        flag = str(params.get(
            "action.execonlywhenpreviousissuspended",
            params.get("action.execOnlyWhenPreviousIsSuspended",
                       "off"))).lower() in ("on", "true", "1")
        if flag and not prev_suspended:
            continue
        kw = {}
        if rl_states is not None:
            # cross-micro-batch ratelimit admission state (stream
            # runs share one dict across foreachBatch invocations)
            kw["rl_state"] = rl_states.setdefault(
                (ruleset_name, name), {})
        try:
            _dispatch_action(cfg, name, df, params, run,
                             sink_overrides, **kw)
            prev_suspended = False
        except (ValueError, SyntaxError, KeyError, TypeError,
                AnalysisException):
            raise
        except Exception as e:  # noqa: BLE001 — sink health
            prev_suspended = True
            run.suspended[name] = repr(e)
            _write_action_errfile(cfg, name, params, df)
            if str(params.get("type", "")) == "omfile":
                # stream.c:333 LogError "file '%s': open error" — an
                # internal message the config's own rules then route
                # (golden omfile-read-only-errmsg.sh greps it in the
                # catch-all output file)
                tgt = params.get("file") or params.get("dynafile") \
                    or name
                detail = " ".join(str(e).split())[:160]
                run.internal_msgs.append(
                    (3, f"file '{tgt}': open error: {detail}"))
            _warnings.warn(
                f"action {name!r} suspended: {e!r:.200}")


#: generic failure status for error-file records — the engine has no
#: per-module rsRetVal codes; RS_RET_SUSPENDED (rsyslog.h) stands in
_RS_RET_SUSPENDED = -2007


def _write_action_errfile(cfg, name, params, df,
                          status: int = _RS_RET_SUSPENDED) -> None:
    """action.errorfile / action.errorfile.maxsize (runtime/action.c
    actionWriteErrorFile:1651-1730; goldens action-tx-errfile.sh,
    errfile-basic.sh): each failed message appends a json-c SPACED
    record ``{ "action": NAME, "status": RET, "template0":
    RENDERED }``; maxsize caps the FILE — the final record is cut to
    the remaining bytes with its last byte turned into LF. Failed
    rows stream via toLocalIterator (bounded driver memory, same as
    the oversize errorfile)."""
    import json as _json
    import os as _os

    path = params.get("action.errorfile")
    if not path:
        return
    try:
        maxsize = int(params.get("action.errorfile.maxsize", 0) or 0)
    except (TypeError, ValueError):
        maxsize = 0
    tpl = cfg.templates.get(params.get("template") or "")
    if tpl is not None and hasattr(tpl, "col"):
        rendered = tpl.col(df)
    else:
        from rsyslog_spark.templates import (
            BUILTIN_TEMPLATES, compile_template_string)
        rendered = compile_template_string(
            BUILTIN_TEMPLATES["RSYSLOG_FileFormat"]).col(df)
    try:
        cur = _os.path.getsize(path)
    except OSError:
        cur = 0
    # strip the action-name '#N' dedup suffix: the reference records
    # the configured name
    rec_name = name.split("#", 1)[0]
    with open(path, "ab") as fh:
        for r in df.select(rendered.cast("string").alias("t")) \
                .toLocalIterator():
            rec = ('{ "action": %s, "status": %d, "template0": %s }'
                   % (_json.dumps(rec_name), status,
                      _json.dumps(r["t"] if r["t"] is not None
                                  else ""))).encode()
            to_write = len(rec) + 1
            if maxsize > 0:
                if cur >= maxsize:
                    break
                to_write = min(to_write, maxsize - cur)
                cur += to_write
            if to_write > 0:
                fh.write(rec[:to_write - 1] + b"\n")


def _intmsg_sev_filter(cfg) -> int:
    """global(internalmsg.severity=..) threshold; default admits
    warning..info and suppresses debug (DFLT_INT_MSGS_SEV_FILTER=6,
    runtime/rsconf.h:49; applied rsyslogd.c:1052 as
    ``pri % 8 <= filter``). The value is pre-validated to 0..7 at
    config load (rainerscript.py)."""
    v = cfg.directives.get("internalmsg.severity")
    if v is None:
        return 6
    try:
        return int(str(v))
    except (TypeError, ValueError):
        return 6


def _route_internal_msgs(eng, cfg, spark, run, ruleset_name,
                         sink_overrides) -> None:
    """internalmsg.severity gate + re-entry (rsyslogd.c:1052
    logmsgInternal_doWrite: ``pri % 8 <= filter``, default 6
    suppresses debug-level internals; errmsg.c LogError/LogMsg):
    admitted internal messages re-enter the ruleset as
    rsyslogd-tagged syslog lines (PRI = LOG_SYSLOG | severity =
    40+sev) so the config's own filters route them —
    omfile-read-only-errmsg.sh greps the catch-all output."""
    sev_filter = _intmsg_sev_filter(cfg)
    admitted = [
        m if isinstance(m, tuple) else (3, m)
        for m in run.internal_msgs]
    admitted = [(s, t) for s, t in admitted if s <= sev_filter]
    run.internal_msgs = []  # consumed (or suppressed); no
    # second-level re-injection
    if not admitted:
        return
    import datetime as _dt

    from rsyslog_spark.parsers.chain import parse_syslog
    from rsyslog_spark.session import local_hostname
    stamp = _dt.datetime.now().strftime("%b %e %H:%M:%S")
    ilines = spark.createDataFrame(
        [(f"<{40 + s}>{stamp} {local_hostname()} rsyslogd: {t}",)
         for s, t in admitted], "line string")
    try:
        iacts, _si = eng.run(parse_syslog(ilines), ruleset_name)
        _dispatch_action_seq(cfg, ruleset_name, iacts, run,
                             sink_overrides)
    except Exception as e:  # noqa: BLE001 — best-effort path
        import warnings as _w
        _w.warn(f"internal-message routing failed: {e!r:.200}")
    run.internal_msgs = []


def _run_batch_actions(eng, cfg, frame, ruleset_name, hdr_frame,
                       hl_ruleset, sink_overrides, multi_action):
    try:
        actions, survivors = eng.run(frame, ruleset_name)

        run = ConfigRun(survivors=survivors)
        run.impstats_conf = next(
            (m for m in cfg.modules
             if str(m.get("load", "")).startswith("impstats")), {})
        if ruleset_name == cfg.main:
            # startup-lifecycle internal messages enter the DEFAULT
            # ruleset only (the reference submits them before any
            # input traffic; a config whose work lives in a named
            # ruleset never sees them — goldens glbl-internalmsg_
            # severity-{debug-not_shown,debug-shown,info-shown}.sh):
            # the begin-processing line is LOG_DEBUG
            # (rsyslogd.c:2687), per-table load is LOG_INFO
            # (lookup.c:1221)
            for lt in cfg.lookup_tables.values():
                run.internal_msgs.append(
                    (6, "lookup table '%s' loaded from file '%s'"
                        % (lt.get("name"), lt.get("file", ""))))
            run.internal_msgs.append(
                (7, "rsyslogd fully started up and initialized "
                    "- begin actual processing"))
        _dispatch_action_seq(cfg, ruleset_name, actions, run,
                             sink_overrides)
        if hl_ruleset is not None and hdr_frame is not None:
            hdr_actions, _hs = eng.run(hdr_frame, hl_ruleset)
            _dispatch_action_seq(cfg, hl_ruleset, hdr_actions, run,
                                 sink_overrides)
        _route_internal_msgs(eng, cfg, frame.sparkSession, run,
                             ruleset_name, sink_overrides)
        # dyn_inc / percentile_observe buckets aggregate over the
        # batch (approximation note: the reference increments at the
        # statement's execution point; the batch form counts every
        # parsed row)
        # aggregate over SURVIVORS (post-ruleset frame): observe
        # expressions may reference $.-locals the ruleset set
        # (golden perctile-simple.sh 'set $.val = ...;
        # percentile_observe(..., $.val)'); stop-removed rows are
        # excluded, matching execution-point semantics more closely
        # than the raw parsed frame
        sframe = survivors if survivors is not None else frame
        for kind, bucket, key_fn, val_fn in cfg.stats_calls:
            if key_fn is None:
                continue
            key = key_fn(sframe).alias("key")
            if kind == "dyn_inc":
                counts = sframe.groupBy(key).count()
                # dyn_stats persistStateInterval (dynstats.c:382-520;
                # golden tests/dynstats-persist.sh): counters resume
                # from the persisted state file across runs and the
                # merged totals are persisted back. The bucket frame
                # is per-key counts — O(#keys), collected to merge;
                # the row-level aggregation stays distributed.
                pobj = next((o for o in cfg.objects.get(
                    "dyn_stats", []) if o.get("name") == bucket), None)
                if pobj and int(pobj.get(
                        "persistStateInterval", "0") or 0) > 0:
                    from rsyslog_spark.operators.stats import (
                        dynstats_load_state, dynstats_save_state)
                    sdir = (pobj.get("statefile.directory")
                            or cfg.directives.get("workdirectory")
                            or ".")
                    merged = dynstats_load_state(bucket, sdir)
                    for r in counts.collect():
                        merged[r["key"]] = \
                            merged.get(r["key"], 0) + r["count"]
                    dynstats_save_state(bucket, sdir, merged)
                    counts = sframe.sparkSession.createDataFrame(
                        [(k, v) for k, v in merged.items()],
                        "key string, count long")
                run.dynstats[bucket] = counts
            else:
                from rsyslog_spark.operators.stats import (
                    percentile_stats)
                vf = val_fn(sframe) if val_fn is not None else \
                    F.lit(None)
                # bucket declaration (percentile_stats(name=...
                # percentiles=[..] windowsize=..) — runtime/
                # perctile_stats.c): reference-exact NEAREST-RANK
                # pick over the window; golden perctile-simple.sh
                pobj = next(
                    (o for os_ in ("percentile_stats",
                                   "perctile_stats")
                     for o in cfg.objects.get(os_, [])
                     if o.get("name") == bucket), {})
                pcts = pobj.get("percentiles", ["50", "95", "99"])
                if isinstance(pcts, str):
                    pcts = [pcts]
                run.dynstats[bucket] = percentile_stats(
                    sframe.select(key, vf.cast("long").alias("v")),
                    "key", "v",
                    percentiles=[int(x) for x in pcts],
                    exact="ref")
                run.perctile_meta[bucket] = str(
                    pobj.get("delimiter", "|"))
    finally:
        if multi_action:
            frame.unpersist()
    # module(load="impstats" log.file=..): write this run's stats
    # cycle through the file lifecycle (impstats.c doSubmitToFile —
    # overwrite truncates per cycle, default appends; push.url POSTs
    # the prometheus rendering, best-effort)
    ic = {k.lower(): v for k, v in run.impstats_conf.items()}
    zbx = str(ic.get("format", "")).lower() == "zabbix"
    if zbx and not ic.get("log.file") and str(
            ic.get("log.syslog", "on")).lower() in ("on", "true",
                                                    "1"):
        # impstats.c:569-576: zabbix's single grouped JSON line can
        # exceed $MaxMessageSize on the syslog path
        import warnings

        warnings.warn(
            'impstats: log.syslog set to "on" and format set to '
            '"zabbix" without log.file set - the grouped JSON line '
            "may be truncated; set log.file or raise "
            "$MaxMessageSize", RuntimeWarning, stacklevel=2)
    if ic.get("log.file"):
        from rsyslog_spark.streaming.impstats import (
            ImpstatsFileSink, impstats_zabbix)

        def on(key):
            return str(ic.get(key, "off")).lower() in (
                "on", "true", "1")
        labels = ic.get("push.labels") or []
        if isinstance(labels, str):
            labels = [labels]
        sink = ImpstatsFileSink(
            str(ic["log.file"]),
            overwrite=on("log.file.overwrite"),
            push_url=ic.get("push.url"),
            push_labels=[str(x) for x in labels],
            push_timeout_ms=int(ic.get("push.timeout.ms", 2000)))
        # format="zabbix" (ChangeLog 2025-11-07): ONE grouped JSON
        # line per cycle instead of the legacy per-object lines
        sink.emit_cycle(
            [impstats_zabbix(run.impstats_json_objs())] if zbx
            else run.impstats_lines())
        sink.close()
        run.impstats_sink = sink
    return run


def _action_params(cfg: ParsedConfig, ruleset: str, name: str) -> dict:
    from rsyslog_spark.plans.ruleset import Action

    def walk(stmts):
        for s in stmts:
            if isinstance(s, Action) and s.name == name:
                return s.params or {}
            for sub in (getattr(s, "then", None), getattr(s, "orelse", None),
                        getattr(s, "body", None)):
                if sub:
                    got = walk(sub)
                    if got is not None:
                        return got
        return None

    for rs in cfg.rulesets.values():
        got = walk(rs.stmts)
        if got is not None:
            return got
    return {}


def _secure_defaults_policy(directives: dict) -> str:
    """compatibility.defaults.secure policy (ref: runtime/glbl.c:
    746-760 setCompatDefaultsSecure): strict / warn /
    backward-compatible (the default); any other value is a config
    error (RS_RET_CONF_PARAM_INVLD analog)."""
    v = str(directives.get("compatibility.defaults.secure",
                           "backward-compatible")).lower()
    if v not in ("strict", "warn", "backward-compatible"):
        raise ValueError(
            f"invalid value '{v}' for global parameter "
            "compatibility.defaults.secure")
    return v


def _warn_if_insecure_default(policy: str, detail: str) -> None:
    """glblWarnIfInsecureDefault (ref: runtime/glbl.c:825-831):
    warn-mode-only report wrapped in the reference's standard
    insecure-default banner."""
    if policy == "warn":
        import warnings

        warnings.warn(
            f"backward-compatible insecure default in use: {detail}; "
            'use global(compatibility.defaults.secure="strict") to '
            "enable the secure default")


def _is_tls_capable_drvr(name: str) -> bool:
    """glblIsTlsCapableNetstrmDrvr (ref: runtime/glbl.c:844-847)."""
    return name.lower() in ("ossl", "gtls", "mbedtls")


def _tls_from_input(inp: dict, directives: dict,
                    context: str = "imtcp input"):
    """Build a gtls TLSConfig from input() StreamDriver.* params plus
    the global defaultNetstreamDriver* files (ref: runtime/glbl.c:
    130-134; nsd_gtls.c authmode handling). Returns None when the
    input doesn't run TLS — including a TLS-capable driver left at
    streamdriver.mode=0, which the reference runs as PLAIN TCP (the
    documented tls_mode0_disables_tls footgun). PermittedPeer
    accepts a comma-separated list; with authmode x509/fingerprint
    the entries are fingerprints (the reference overloads the same
    param).

    Secure-default handling (ChangeLog 2026-06-29; plugins/imtcp/
    imtcp.c:444-489 warnOnInsecureStreamDriver +
    applySecureDefaultsToStreamDriver): under
    compatibility.defaults.secure="warn", a TLS-capable effective
    driver (including one inherited from defaultNetstreamDriver)
    still at mode 0 is reported, plain mode-0 listeners get the
    milder note, and an explicit anon authmode with TLS active gets
    the MITM warning. Under "strict", an OMITTED mode is promoted to
    TLS mode 1 while an EXPLICIT mode 0 is rejected so user intent
    is not silently overridden."""
    p = {k.lower(): v for k, v in inp.items()}

    # dotted (StreamDriver.AuthMode) AND dotless legacy
    # (StreamDriverAuthMode) spellings are accepted, mirroring the
    # reference's alias table (tools/omfwd.c:256-263) — legacy names
    # must NOT silently downgrade to plaintext/anon
    def par(dotted: str, dotless: str, default=None):
        v = p.get(dotted)
        return v if v is not None else p.get(dotless, default)

    local_name = par("streamdriver.name", "streamdriver")
    name = (local_name or directives.get("defaultnetstreamdriver")
            or "")
    mode_raw = par("streamdriver.mode", "streamdrivermode", None)
    mode_set = mode_raw is not None and str(mode_raw).strip() != ""
    mode = int(mode_raw) if mode_set else 0
    policy = _secure_defaults_policy(directives)
    tls_capable = _is_tls_capable_drvr(name)
    authmode_raw = par("streamdriver.authmode",
                       "streamdriverauthmode", None)

    if tls_capable and mode == 0 and policy == "strict":
        if mode_set:
            raise ValueError(
                f'{context}: compatibility.defaults.secure="strict" '
                'rejects explicit streamdriver.mode="0" with '
                f'TLS-capable stream driver "{name}"; use '
                'streamdriver.mode="1" to enable TLS or select '
                "ptcp/plain TCP intentionally")
        mode = 1        # omitted mode → secure default promotes TLS
    if mode == 0:
        # includes TLS drivers inherited via defaultNetstreamDriver
        if authmode_raw is not None or tls_capable:
            _warn_if_insecure_default(
                policy,
                f'{context.split()[0]} has TLS-related settings but '
                'streamdriver.mode="0"; mode 0 uses plain TCP so '
                "TLS is not active (see https://docs.rsyslog.com/"
                "doc/faq/tls_mode0_disables_tls.html)")
        else:
            _warn_if_insecure_default(
                policy,
                f'{context} uses streamdriver.mode="0" (plain TCP '
                "without TLS); see https://docs.rsyslog.com/doc/"
                "faq/tls_mode0_disables_tls.html")
    elif authmode_raw is not None \
            and str(authmode_raw).lower() == "anon":
        _warn_if_insecure_default(
            policy,
            f'{context.split()[0]} uses streamdriver.authmode='
            '"anon"; server identity is not authenticated, so MITM '
            "is possible (see https://docs.rsyslog.com/doc/faq/"
            "tls_anon_auth_mitm.html)")
    if mode != 1:
        return None
    from rsyslog_spark.streaming.gtls import TLSConfig

    authmode = par("streamdriver.authmode", "streamdriverauthmode",
                   "anon")
    raw_peers = (par("streamdriver.permittedpeers",
                     "streamdriverpermittedpeers")
                 or p.get("permittedpeer") or "")
    peers = [x.strip().strip('"') for x in
             raw_peers.strip("[]").split(",") if x.strip()]
    is_fp = authmode == "x509/fingerprint"
    return TLSConfig(
        certfile=directives.get("defaultnetstreamdrivercertfile"),
        keyfile=directives.get("defaultnetstreamdriverkeyfile"),
        cafile=directives.get("defaultnetstreamdrivercafile"),
        authmode=authmode,
        permitted_peers=[] if is_fp else peers,
        permitted_fingerprints=peers if is_fp else [],
        # streamdriver.crlfile (imtcp.c:264) with the global
        # $DefaultNetstreamDriverCRLFile fallback (imtcp.c:826)
        crlfile=(par("streamdriver.crlfile", "streamdrivercrlfile")
                 or directives.get("defaultnetstreamdrivercrlfile")),
        # streamdriver.PrioritizeSAN (imtcp.c:260): RFC 6125 — skip
        # the CN when SANs are present
        prioritize_san=str(par("streamdriver.prioritizesan",
                               "streamdriverprioritizesan", "off")
                           ).lower() in ("on", "true", "1"),
    )


def run_config_stream(
    spark: SparkSession,
    conf_src: str,
    *,
    checkpoint: str,
    input_path: str | None = None,
    tables: dict[str, Any] | None = None,
    main: str | None = None,
    available_now: bool = True,
    sink_overrides: dict | None = None,
    drain_grace: float = 2.0,
):
    """Streaming execution of a config: imfile readStream → parse →
    ruleset DAG re-applied per micro-batch → all actions written from
    ONE query via fanout_sink (the reference's direct-action batch
    commit, ruleset.c:632 — the batch is persisted once, each action
    filters from it).

    ``available_now=True`` drains existing files and stops (test /
    backfill mode); False leaves the query running (caller owns
    lifecycle). Returns the StreamingQuery.
    """
    from rsyslog_spark.config.rainerscript import load_config as _load
    from rsyslog_spark.streaming.sources import imfile

    eng, cfg = _load(conf_src, tables=tables)
    path = input_path
    ruleset_name = main
    imfile_params: dict = {}
    bridge = None
    bridges: list = []
    kafka_inp = None
    for inp in cfg.inputs:
        typ = inp.get("type")
        if typ == "imfile" and path is None:
            path = inp.get("file")
            imfile_params = inp
        elif typ == "imkafka" and kafka_inp is None \
                and path is None and bridge is None:
            # input(type="imkafka" broker topic consumergroup
            # confParam parsehostname split.json.records) → the
            # kafka readStream source (ref: plugins/imkafka/
            # imkafka.c:1593 module bind; tests/imkafka.sh config
            # shape)
            kafka_inp = inp
        elif (path is None
              and typ in ("imtcp", "imptcp", "imudp", "imrelp",
                          "imhttp", "imhiredis")):
            # socket inputs: start the matching receive bridge; the
            # stream reads its spool (ref input() port binding, e.g.
            # plugins/imtcp — inputs start LAST in the activation
            # sequence, rsconf.c:1228-1268, which is exactly when
            # this query begins polling). EVERY socket input starts
            # its own listener; additional bridges SHARE the first
            # one's spool so one streaming query drains them all
            # (the reference's N listeners → one main queue;
            # imtcp-multi-drvr-basic.sh). Each input binds its OWN
            # ruleset (imtcp.c:140 pszBindRuleset): the bridge
            # stamps records with a 'binding' column and the sink
            # fans the micro-batch out per bound ruleset.
            import tempfile

            from rsyslog_spark.streaming import bridges as _b

            spool = inp.get("spool") or (
                bridges[0].spool_dir if bridges else
                tempfile.mkdtemp(prefix=f"rsyslog_spark_{typ}_"))
            kw: dict = {}
            if inp.get("port"):
                kw["port"] = int(inp["port"])
            if inp.get("address"):
                kw["host"] = inp["address"]
            cls = {"imtcp": _b.imtcp, "imptcp": _b.imptcp,
                   "imudp": _b.imudp, "imrelp": _b.imrelp,
                   "imhttp": _b.imhttp,
                   "imhiredis": _b.imhiredis}[typ]
            if typ == "imhttp":
                if inp.get("endpoint"):
                    kw["endpoint"] = inp["endpoint"]
                lhtp = {k.lower(): v for k, v in inp.items()}
                # basicAuthFile / apiKeyFile (imhttp.c:196-198)
                if lhtp.get("basicauthfile"):
                    kw["basic_auth_file"] = lhtp["basicauthfile"]
                if lhtp.get("apikeyfile"):
                    kw["api_key_file"] = lhtp["apikeyfile"]
                # body-size hardening knobs (2026-04-24)
                if lhtp.get("maxbodybytes"):
                    kw["max_body_bytes"] = int(lhtp["maxbodybytes"])
                if lhtp.get("maxexpandedbytes"):
                    kw["max_expanded_bytes"] = int(
                        lhtp["maxexpandedbytes"])
            if typ == "imhiredis":
                # imhiredis.c params: server/port/key/mode +
                # stream.* (consumerGroup/consumerName/readFrom/
                # autoclaimIdleTime/ack) — goldens
                # imhiredis-{queue,stream*}.sh
                lin = {k.lower(): v for k, v in inp.items()}
                kw.pop("host", None)
                if lin.get("server"):
                    kw["host"] = lin["server"]
                kw["key"] = lin.get("key", "")
                if lin.get("mode"):
                    kw["mode"] = lin["mode"]
                # useLPop defaults to 0 in the reference
                # (imhiredis.c:300) — RPOP/FIFO is the default for
                # LPUSH producers; uselpop="on" opts into LPOP
                if str(lin.get("uselpop", "off")).lower() in (
                        "on", "true", "1"):
                    kw["use_lpop"] = True
                if lin.get("stream.consumergroup"):
                    kw["stream_consumer_group"] =                         lin["stream.consumergroup"]
                if lin.get("stream.consumername"):
                    kw["stream_consumer_name"] =                         lin["stream.consumername"]
                if lin.get("stream.readfrom"):
                    kw["stream_read_from"] = lin["stream.readfrom"]
                if lin.get("stream.autoclaimidletime"):
                    kw["stream_autoclaim_idle_time"] = int(
                        lin["stream.autoclaimidletime"])
                if str(lin.get("stream.ack", "on")).lower() in (
                        "off", "false", "0"):
                    kw["stream_ack"] = False
            if typ in ("imtcp", "imptcp"):
                tls = _tls_from_input(inp, cfg.directives)
                if tls is not None:
                    kw["tls"] = tls
                # $MaxMessageSize truncation + imptcp
                # discardTruncatedMsg (tcps_sess.c; golden
                # imptcp-discard-truncated-msg.sh)
                mms = cfg.directives.get("maxmessagesize")
                if mms:
                    kw["max_message_size"] = int(mms)
                lin = {k.lower(): v for k, v in inp.items()}
                if str(lin.get("discardtruncatedmsg", "off")
                       ).lower() in ("on", "true", "1"):
                    kw["discard_truncated"] = True
                # framing.delimiter.regex (imptcp.c:215; golden
                # imptcp_framing_regex-oversize.sh)
                if lin.get("framing.delimiter.regex"):
                    kw["framing_regex"] = \
                        lin["framing.delimiter.regex"]
                # compression.mode / compression.driver (imtcp.c:
                # 376-411; goldens imtcp-stream-always-*.sh)
                if lin.get("compression.mode"):
                    kw["compression_mode"] = lin["compression.mode"]
                if lin.get("compression.driver"):
                    kw["compression_driver"] = \
                        lin["compression.driver"]
                # compression.maxExpansionRatio (imtcp.c:277;
                # expansion-guard goldens — default 1024, 0 = off)
                if lin.get("compression.maxexpansionratio") \
                        not in (None, ""):
                    kw["compression_max_expansion_ratio"] = int(
                        lin["compression.maxexpansionratio"])
                # framing/session knobs: addtlFrameDelimiter
                # (imptcp_addtlframedelim.sh),
                # supportOctetCountedFraming
                # (imptcp_no_octet_counted.sh), maxSessions
                # (tcpsrv.c:754 drop diagnostic)
                if lin.get("addtlframedelimiter") not in (None, ""):
                    kw["addtl_frame_delimiter"] = int(
                        lin["addtlframedelimiter"])
                if str(lin.get("supportoctetcountedframing", "on")
                       ).lower() in ("off", "false", "0"):
                    kw["support_octet_counted"] = False
                # MultiLine (imtcp.c:676,1042; ChangeLog 2026-01-31)
                if str(lin.get("multiline", "off")).lower() in (
                        "on", "true", "1"):
                    kw["multiline"] = True
                # framingfix.cisco.asa (imptcp.c:219)
                if str(lin.get("framingfix.cisco.asa", "off")
                       ).lower() in ("on", "true", "1"):
                    kw["sp_framing_fix"] = True
                # unix-domain listener (imptcp.c:203-204 path/unlink;
                # goldens imptcp_uds.sh, imptcp_uds_unlink.sh)
                if lin.get("path"):
                    kw["path"] = lin["path"]
                    kw.pop("port", None)
                    kw.pop("host", None)
                    if str(lin.get("unlink", "off")).lower() in (
                            "on", "true", "1"):
                        kw["unlink"] = True
                if lin.get("maxsessions"):
                    kw["max_sessions"] = int(lin["maxsessions"])
                # notifyOnConnection{Open,Close} (imptcp.c:221-222;
                # golden imptcp-connection-msg-received.sh)
                for rk, pk in (
                        ("notifyonconnectionopen",
                         "notify_on_connection_open"),
                        ("notifyonconnectionclose",
                         "notify_on_connection_close")):
                    if str(lin.get(rk, "off")).lower() in (
                            "on", "true", "1"):
                        kw[pk] = True
                # keepalive family (imtcp.c:269-272 / imptcp.c —
                # binary + three non-negative ints)
                if str(lin.get("keepalive", "off")).lower() in (
                        "on", "true", "1"):
                    kw["keepalive"] = True
                for rk, pk in (
                        ("keepalive.probes", "keepalive_probes"),
                        ("keepalive.time", "keepalive_time"),
                        ("keepalive.interval", "keepalive_intvl")):
                    if lin.get(rk):
                        kw[pk] = int(lin[rk])
            # allowedSender ACLs — modern arrays first (ChangeLog
            # 2026-07-02: input-level lists REPLACE module-level
            # defaults; empty arrays rejected), legacy
            # $AllowedSender <PROTO> directive as fallback
            lin = {k.lower(): v for k, v in inp.items()}
            asl = lin.get("allowedsender")
            if asl is None:
                for m in cfg.modules:
                    if str(m.get("load", "")).startswith(typ):
                        masl = {k.lower(): v for k, v in m.items()
                                }.get("allowedsender")
                        if masl is not None:
                            asl = masl
            if asl is not None:
                entries = (list(asl) if isinstance(asl, (list, tuple))
                           else [x.strip() for x in str(asl).split(",")
                                 if x.strip()])
                if not entries:
                    raise ValueError(
                        f"{typ}: empty allowedSender list is invalid")
                kw["allowed_senders"] = [str(e) for e in entries]
            else:
                acl_key = ("allowedsender.udp" if typ == "imudp"
                           else "allowedsender.tcp")
                if cfg.directives.get(acl_key):
                    kw["allowed_senders"] = [
                        e for e in cfg.directives[acl_key].split(",")
                        if e]
            b = cls(spool, **kw)
            # input(... name="i2") → %inputname% (imtcp.c
            # pszInputName; tests/imtcp-name.sh shape)
            if inp.get("name"):
                b.inputname = inp["name"]
            # per-input ruleset binding; an unknown name warns and
            # falls back to the default, exactly the reference's
            # "ruleset '%s' for port %s not found - using default
            # ruleset instead" (imtcp.c:1332-1336)
            rbind = inp.get("ruleset")
            if rbind:
                if rbind in cfg.rulesets:
                    b.ruleset = rbind
                else:
                    import warnings as _w
                    _w.warn(
                        f"{typ}: ruleset {rbind!r} for port "
                        f"{inp.get('port')} not found - using "
                        "default ruleset instead")
            bridges.append(b.start())
            if bridge is None:
                bridge = bridges[0]
        if ruleset_name is None and inp.get("ruleset"):
            ruleset_name = inp["ruleset"]
    if path is None and bridge is None and kafka_inp is None:
        raise ValueError(
            "no imfile/socket/kafka input in config and no "
            "input_path")
    if ruleset_name is None or ruleset_name not in cfg.rulesets:
        # undefined binding: warn-and-default, like the reference's
        # rulesetGetRuleset fallback (runtime/ruleset.c)
        ruleset_name = cfg.main if cfg.main in cfg.rulesets \
            else next(iter(cfg.rulesets))

    # module(load="impstats") attaches the engine-counter listener
    # (ref: plugins/impstats); collected stats ride on the returned
    # query object as `.impstats`
    listener = None
    if any(m.get("load", "").startswith("impstats")
           for m in cfg.modules):
        from rsyslog_spark.streaming.impstats import ImpstatsListener

        listener = ImpstatsListener()
        spark.streams.addListener(listener)

    if bridge is not None:
        union_schema = None
        if len(bridges) > 1:
            cols: dict = {}
            for b in bridges:
                for part in b.schema.split(","):
                    n, _, t = part.strip().partition(" ")
                    cols.setdefault(n, t)
            union_schema = ", ".join(
                f"{n} {t}" for n, t in cols.items())
        lines = bridge.stream(spark, schema=union_schema)
    elif path is None and kafka_inp is not None:
        from rsyslog_spark.streaming import sources as _src

        ko = _imkafka_opts(kafka_inp)
        lin = {k.lower(): v for k, v in kafka_inp.items()}
        mopt = lin.get("maxoffsetspertrigger")  # engine-level knob
        lines = _src.imkafka(
            spark, ko["brokers"], ko["topics"],
            consumergroup=ko["consumergroup"],
            conf_params=ko["conf_params"],
            max_offsets_per_trigger=int(mopt) if mopt else None,
            split_json=ko["split_json"])
    else:
        lp = {k.lower(): v for k, v in imfile_params.items()}
        mft = lp.get("maxfilespertrigger")   # engine-level knob:
        # micro-batch sizing (no reference analog — imfile tails
        # continuously; this bounds batch size for paced drains)
        lines = imfile(
            spark, path,
            max_files_per_trigger=int(mft) if mft else None,
            startmsg_regex=imfile_params.get("startmsg.regex"),
            endmsg_regex=imfile_params.get("endmsg.regex"),
            read_mode=int(imfile_params.get(
                "readMode", imfile_params.get("readmode", "0"))))
    # oversize policy: truncate/accept are column ops, stream-safe;
    # split's explode is too. The errorfile collect is batch-only —
    # streams surface oversize records via the headerless/errorfile
    # pattern per micro-batch if configured (kept off the hot path)
    lines = _apply_oversize_policy(lines, cfg,
                                   write_errorfile=False)
    lines = _apply_escape_on_receive(lines, cfg)

    # per-input ruleset fan-out (imtcp.c:140 pszBindRuleset;
    # imtcp-multi-drvr-basic.sh shape with distinct rulesets): when
    # any socket input binds a ruleset OTHER than the default, the
    # sink slices each micro-batch by the bridge-stamped 'binding'
    # column and runs every bound ruleset's parser chain + DAG on
    # its own slice. One streaming query, one spool scan, one
    # persist — the fan-out is a set of filters on the cached batch.
    extra_rulesets: list[str] = []
    for b in bridges:
        r = getattr(b, "ruleset", None)
        if r and r in cfg.rulesets and r != ruleset_name \
                and r not in extra_rulesets:
            extra_rulesets.append(r)

    # per-source ratelimit at submission (ratelimitAddMsg;
    # imptcp-persource-ratelimit-policy.sh): first input declaring
    # ratelimit.name governs the shared pipeline. Applied INSIDE the
    # foreachBatch sink — per micro-batch — both because row_number
    # windows are batch-only plans and because policyWatch (ChangeLog
    # 2026-04-08/13) re-stats the YAML per main-loop tick, which for
    # a stream IS the micro-batch.
    rl_inp = next(
        (i for i in cfg.inputs
         if any(k.lower() == "ratelimit.name" for k in i)), None)

    def _stage(src: DataFrame, rname: str, *,
               ratelimit: bool = True) -> DataFrame:
        """Ruleset-specific pre-parse + parse + vendor stages."""
        s = _apply_snare_prestage(src, cfg, rname)
        pm_o, _hl = _pm3164_opts(cfg, rname)
        fr = parse_syslog(
            s, parsers=_ruleset_parser_chain(cfg, rname),
            inputname=("imkafka" if path is None and bridge is None
                       and kafka_inp is not None else "imfile"),
            **{**_parser_opts(cfg), **pm_o})
        if path is None and bridge is None and kafka_inp is not None \
                and not _imkafka_opts(kafka_inp)["parse_hostname"]:
            fr = _stamp_receiver_hostname(fr)
        vst = _vendor_parser_stage(cfg, rname)
        if vst is not None:
            fr = vst(fr)
        if ratelimit:
            fr = _apply_persource_ratelimit(cfg, rl_inp, fr)
        return fr

    # per-action drop-mode admitted counts, carried ACROSS
    # micro-batches (the reference's ratelimiter lives in the action
    # worker for the daemon's lifetime — per-batch-only admission
    # would re-admit `burst` rows every micro-batch)
    rl_states: dict[tuple, dict] = {}

    def _run_ruleset(bframe: DataFrame, rname: str) -> None:
        """Headerless routing + main-queue gate + ruleset DAG +
        action dispatch for one parsed (sub-)batch."""
        _pm_o, hl_route = _pm3164_opts(cfg, rname)
        # headerless routing twin (pmrfc3164
        # handleHeaderlessMessage — the reference applies it on
        # the stream by construction, pmrfc3164.c:362-369)
        hdr_frame = None
        hl_ruleset = None
        if hl_route is not None and "headerless" in bframe.columns:
            hdr_frame = bframe.filter(F.col("headerless"))
            if hl_route.get("errorfile"):
                with open(hl_route["errorfile"], "a",
                          encoding="utf-8") as fh:
                    for r in hdr_frame.select("rawmsg") \
                            .toLocalIterator():
                        fh.write(r[0] + "\n")
            if hl_route.get("drop"):
                bframe = bframe.filter(~F.col("headerless"))
                hdr_frame = None
            elif hl_route.get("ruleset") in cfg.rulesets:
                hl_ruleset = hl_route["ruleset"]
                bframe = bframe.filter(~F.col("headerless"))
            else:
                hdr_frame = None
        gated = _apply_main_queue_directives(bframe, cfg)
        actions, _surv = eng.run(gated, rname)
        run = ConfigRun()
        # SUSPEND semantics on the stream too (runtime/action.c): a
        # failing sink suspends itself for this micro-batch, the
        # rest of the config keeps running, and its internal error
        # message re-enters the pipeline — instead of killing the
        # whole streaming query
        _dispatch_action_seq(cfg, rname, actions, run,
                             sink_overrides, rl_states=rl_states)
        if hl_ruleset is not None and hdr_frame is not None:
            hdr_actions, _hs = eng.run(hdr_frame, hl_ruleset)
            _dispatch_action_seq(cfg, hl_ruleset, hdr_actions, run,
                                 sink_overrides)
        _route_internal_msgs(eng, cfg, bframe.sparkSession, run,
                             rname, sink_overrides)

    def _route_bridge_internals(spark_sess) -> None:
        """Drain bridge lifecycle notifications (connection open/
        close, imptcp.c:951,1835) into the internalmsg gate, routed
        through the default-bound ruleset like the reference's
        LogMsg submissions."""
        pend: list = []
        for b in bridges:
            pend += b.drain_internal_msgs()
        if not pend:
            return
        r2 = ConfigRun()
        r2.internal_msgs = pend
        _route_internal_msgs(eng, cfg, spark_sess, r2,
                             ruleset_name, sink_overrides)

    if not extra_rulesets:
        # ratelimit applies in the sink: row_number windows are not
        # streamable pre-plan, and policyWatch wants a per-tick stat
        frame = _stage(lines, ruleset_name, ratelimit=False)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df = _apply_persource_ratelimit(cfg, rl_inp,
                                                  batch_df)
            batch_df.persist()
            try:
                _run_ruleset(batch_df, ruleset_name)
            finally:
                batch_df.unpersist()
            _route_bridge_internals(batch_df.sparkSession)
    else:
        # multi-binding: stream the RAW lines; parse per slice (each
        # ruleset may declare its own parser chain, ruleset.c parser=)
        frame = lines

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.persist()
            try:
                for rname in [ruleset_name] + extra_rulesets:
                    cond = F.col("binding") == rname
                    if rname == ruleset_name:
                        # unbound inputs feed the default ruleset
                        cond = cond | F.col("binding").isNull()
                    sl = batch_df.filter(cond)
                    if not sl.take(1):
                        continue
                    parsed = _stage(sl, rname)
                    parsed.persist()
                    try:
                        _run_ruleset(parsed, rname)
                    finally:
                        parsed.unpersist()
            finally:
                batch_df.unpersist()
            _route_bridge_internals(batch_df.sparkSession)

    writer = frame.writeStream.foreachBatch(sink) \
        .option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    if bridge is not None and available_now:
        # drain-once mode: the availableNow file source snapshots the
        # spool at query start, so give in-flight senders a grace
        # window to land, then force a rotation. Tests/backfills
        # only; in run mode the micro-batch loop picks up every later
        # flush.
        time.sleep(float(drain_grace))
        for b in bridges:
            b.flush()
    q = writer.start()
    if available_now:
        q.awaitTermination(120)
        for b in bridges:
            b.stop()
    if listener is not None:
        q.impstats = listener   # host reads .stats / .as_log_lines()
    if bridge is not None:
        q.bridge = bridge       # caller owns lifecycle in run mode
        q.bridges = bridges
    return q


def _queued_rulesets(cfg: ParsedConfig) -> set[str]:
    """Rulesets declaring their own queue (queue.type != direct) —
    the reference processes calls into them ASYNCHRONOUSLY
    (doc: multi_ruleset.rst; SURVEY §3.2 thread boundaries)."""
    out = set()
    for name, params in cfg.ruleset_params.items():
        qt = params.get("queue.type", "direct")
        if any(k.startswith("queue.") for k in params) and \
                qt.lower() != "direct":
            out.add(name)
    return out


def _rewrite_queued_calls(stmts, queued: set[str], enq_prefix: str):
    """Replace Call(r) into a queued ruleset with an enqueue Action —
    the async boundary (the reference enqueues to the target ruleset's
    own queue and the call returns immediately)."""
    from rsyslog_spark.plans.ruleset import Action, Call, Foreach, If, \
        PriFilt, PropFilt

    def walk(seq):
        out = []
        for s in seq:
            if isinstance(s, Call) and s.ruleset in queued:
                out.append(Action(enq_prefix + s.ruleset,
                                  params={"type": "__queue__",
                                          "ruleset": s.ruleset}))
                continue
            for attr in ("then", "orelse", "body"):
                if hasattr(s, attr) and getattr(s, attr):
                    setattr(s, attr, walk(list(getattr(s, attr))))
            out.append(s)
        return out

    return walk(list(stmts))


def run_config_stream_async(
    spark: SparkSession,
    conf_src: str,
    *,
    checkpoint: str,
    input_path: str | None = None,
    main: str | None = None,
):
    """Streaming execution with ASYNC queued rulesets: calls into a
    ruleset that declares ``queue.*`` parameters land in an
    intermediate parquet queue directory; a SEPARATE streaming query
    per queued ruleset consumes it (the reference's
    queue-per-ruleset thread boundary, SURVEY §3.2). Local ``$.``
    variables are dropped at the boundary — the reference never
    serializes them (doc variable_property_types.rst), and
    modifications inside an async ruleset do not propagate back
    (doc multi_ruleset.rst).

    availableNow drain: the parent runs first, then each queue
    consumer. Returns ConfigRun-style written map including the
    queued rulesets' actions.
    """
    import os

    from rsyslog_spark.config.rainerscript import load_config as _load
    from rsyslog_spark.schema import SYSLOG_SCHEMA
    from rsyslog_spark.streaming.sources import imfile

    eng, cfg = _load(conf_src)
    queued = _queued_rulesets(cfg)
    enq_prefix = "__enqueue__"
    for rs in cfg.rulesets.values():   # engine shares these objects
        rs.stmts = _rewrite_queued_calls(rs.stmts, queued, enq_prefix)

    path = input_path
    ruleset_name = main
    for inp in cfg.inputs:
        if inp.get("type") == "imfile" and path is None:
            path = inp.get("file")
        if ruleset_name is None and inp.get("ruleset"):
            ruleset_name = inp["ruleset"]
    if path is None:
        raise ValueError("no imfile input in config and no input_path")
    if ruleset_name is None or ruleset_name not in cfg.rulesets:
        # undefined binding: warn-and-default, like the reference's
        # rulesetGetRuleset fallback (runtime/ruleset.c)
        ruleset_name = cfg.main if cfg.main in cfg.rulesets \
            else next(iter(cfg.rulesets))

    qdirs = {r: os.path.join(checkpoint, f"queue_{r}") for r in queued}
    written: dict[str, str] = {}

    def write_actions(actions, rsname):
        run = ConfigRun(written=written)
        for name, df in actions:
            if name.startswith(enq_prefix):
                target = name[len(enq_prefix):]
                # async boundary: canonical columns only, $.-vars drop
                cols = [c for c in df.columns
                        if c in set(SYSLOG_SCHEMA.fieldNames())]
                df.select(*cols).write.mode("append") \
                    .parquet(qdirs[target])
                continue
            params = _action_params(cfg, rsname, name)
            _dispatch_action(cfg, name, df, params, run)

    lines = imfile(spark, path)
    frame = parse_syslog(lines)

    def parent_sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            actions, _ = eng.run(batch_df, ruleset_name)
            write_actions(actions, ruleset_name)
        finally:
            batch_df.unpersist()

    q = (frame.writeStream.foreachBatch(parent_sink)
         .option("checkpointLocation", os.path.join(checkpoint, "main"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    # queue consumers: one streaming query per queued ruleset
    for r in queued:
        if not os.path.isdir(qdirs[r]):
            continue   # no rows ever enqueued

        def child_sink(batch_df: DataFrame, batch_id: int,
                       _r=r) -> None:
            actions, _ = eng.run(batch_df, _r)
            write_actions(actions, _r)

        cq = (spark.readStream.schema(SYSLOG_SCHEMA)
              .parquet(qdirs[r])
              .writeStream.foreachBatch(child_sink)
              .option("checkpointLocation",
                      os.path.join(checkpoint, f"ck_{r}"))
              .trigger(availableNow=True).start())
        cq.awaitTermination(120)
    return written


def dynstats_impstats_json(run: ConfigRun, cfg: ParsedConfig
                           ) -> list[str]:
    """Render a batch run's dyn_stats state as impstats
    format="json" lines (ref: runtime/dynstats.c statsobj JSON
    emission; golden tests/dynstats-json.sh): one global object with
    every DECLARED bucket's lifecycle counters
    (<bucket>.new_metric_add = distinct keys this run; overflow/
    purge counters 0 in a plain batch — TTL/cardinality behavior
    lives in the dynstats operators), then one
    ``origin="dynstats.bucket"`` object per bucket with its counter
    values. json-c SPACED text, byte-compatible with the golden."""
    from rsyslog_spark.operators.mm import _jsonc_dumps

    declared = [o.get("name") for o in cfg.objects.get("dyn_stats", [])
                if o.get("name")]
    names = declared or sorted(run.dynstats)
    counts: dict[str, dict] = {}
    for name in names:
        df = run.dynstats.get(name)
        counts[name] = (
            {r["key"]: int(r["count"]) for r in df.collect()}
            if df is not None else {})
    gvals: dict[str, int] = {}
    for name in names:
        for ctr in ("ops_overflow", "new_metric_add", "no_metric",
                    "metrics_purged", "ops_ignored",
                    "purge_triggered"):
            v = len(counts[name]) if ctr == "new_metric_add" else 0
            gvals[f"{name}.{ctr}"] = v
    lines = [_jsonc_dumps({"name": "global", "origin": "dynstats",
                           "values": gvals})]
    for name in names:
        lines.append(_jsonc_dumps(
            {"name": name, "origin": "dynstats.bucket",
             "values": counts[name]}))
    # bracketing="on": literal BEGIN/END marker lines around each
    # stats cycle, in EVERY format (impstats.c:800-802 submits them
    # before/after generateStatsMsgs unconditionally; dynstats-json.sh
    # config uses bracketing="on" format="json")
    imp = next((m for m in cfg.modules
                if str(m.get("load", "")).startswith("impstats")), {})
    if str(imp.get("bracketing", "off")).lower() in ("on", "true",
                                                     "1"):
        lines = ["BEGIN"] + lines + ["END"]
    return lines
