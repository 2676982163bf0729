"""Byte-exact goldens from assorted unmined reference tests:
json_null_array.sh, json_var_cmpr.sh, empty-prop-comparison.sh,
contains-longer-needle.sh, json-omitifzero-subtree.sh,
hostname-with-slash-{pmrfc3164,pmrfc5424}.sh. EXPECTED strings are
copied verbatim from the reference scripts."""

from __future__ import annotations

import os

from rsyslog_spark.config.runtime import run_config_batch


def _run(spark, tmp_path, conf: str, lines: str, sub: str = "o") -> str:
    src = tmp_path / f"in_{sub}.log"
    src.write_text(lines)
    conf = conf.replace("@OUT@", f"{tmp_path}/out_{sub}") \
               .replace("@IN@", str(src))
    run_config_batch(spark, conf)
    d = tmp_path / f"out_{sub}"
    if not d.exists():
        return ""
    return "".join(
        open(d / p).read()
        for p in sorted(os.listdir(d)) if p.startswith("part"))


def test_json_null_array(spark, tmp_path):
    """json_null_array.sh: foreach over a JSON array with null
    elements — nulls are skipped (the reference reads them as "" and
    the guard drops them), numbers iterate in order (seq_check 0 4)."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%$.data%\\n")
ruleset(name="m") {
  action(type="mmjsonparse")
  foreach ($.data in $!array) do {
    if not ($.data == "") then
      action(type="omfile" file="@OUT@" template="outfmt")
  }
}
input(type="imfile" file="@IN@" ruleset="m")
''', '<167>Mar  6 16:57:54 172.20.245.8 test: @cee: '
     '{ "array": [0, 1, null, 2, 3, null, 4] }\n')
    assert out == "0\n1\n2\n3\n4\n"


def test_json_var_cmpr(spark, tmp_path):
    """json_var_cmpr.sh: $!, $., $/ variables compare and reassign
    independently — content_check string copied verbatim."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string"
  string="json prop:%$!val%  local prop:%$.val%  global prop:%$/val%\\n")
ruleset(name="m") {
  action(type="mmjsonparse")
  set $.val = "123";
  set $.rval = "123";
  if ($.val == $.rval) then {
    set $.val = "def";
  }
  set $/val = "123";
  set $/rval = "123";
  if ($/val == $/rval) then {
    set $/val = "ghi";
  }
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', '<167>Nov  6 12:34:56 172.0.0.1 test: @cee: { "val": "abc" }\n',
       sub="v")
    assert out == "json prop:abc  local prop:def  global prop:ghi\n"


def test_empty_prop_comparison(spark, tmp_path):
    """empty-prop-comparison.sh: a $!var set to "" compares equal to
    "" (stop); the matched message renders field 2 of msg split on
    char 58 (':') — seq_check 0 0."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%msg:F,58:2%\\n")
ruleset(name="m") {
  set $!doOutput = "";
  if $msg contains "msgnum:0" then
    set $!doOutput = "1";
  if $!doOutput == "" then stop
  action(type="omfile" template="outfmt" file="@OUT@")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>Mar  6 16:57:54 172.20.245.8 test: msgnum:0\n"
     "<167>Mar  6 16:57:54 172.20.245.8 test: msgnum:\n",
       sub="e")
    assert out == "0\n"


def test_contains_longer_needle(spark, tmp_path):
    """contains-longer-needle.sh: contains with a needle longer than
    the message is simply false (no over-read); the tag compare
    routes the message."""
    conf = '''
template(name="outfmt" type="string" string="%msg%\\n")
ruleset(name="m") {
  if $msg contains "this-needle-is-clearly-longer-than-the-message-under-test" then {
    action(type="omfile" template="outfmt" file="@OUT@_unexpected")
  }
  if $syslogtag == "app" then {
    action(type="omfile" template="outfmt" file="@OUT@")
  }
}
input(type="imfile" file="@IN@" ruleset="m")
'''
    out = _run(spark, tmp_path, conf,
               "<165>1 2003-03-01T01:00:00.000Z host app - - - short\n",
               sub="n")
    assert out == "short\n"
    # the reference accepts an absent OR empty unexpected-file
    # ('test ! -s "$UNEXPECTED_LOG"')
    d = f"{tmp_path}/out_n_unexpected"
    unexpected = "".join(
        open(os.path.join(d, p)).read() for p in os.listdir(d)
        if p.startswith("part")) if os.path.isdir(d) else ""
    assert unexpected == ""


def test_json_omitifzero_subtree(spark, tmp_path):
    """json-omitifzero-subtree.sh: omitIfZero drops numeric zeros —
    including the SPACED string " 0 " which coerces to 0."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="list" option.jsonftree="on") {
    property(name="$!zero" outname="zero_omit" format="jsonf" dataType="number" omitIfZero="on")
    property(name="$!nonzero" outname="nonzero_omit" format="jsonf" dataType="number" omitIfZero="on")
    property(name="$!spacedzero" outname="spacedzero_omit" format="jsonf" dataType="number" omitIfZero="on")
}
ruleset(name="m") {
  set $!zero = 0;
  set $!nonzero = 42;
  set $!spacedzero = " 0 ";
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:00000000:\n",
       sub="z")
    assert out == '{"nonzero_omit":42}\n'


def test_hostname_with_slash_pmrfc3164(spark, tmp_path):
    """hostname-with-slash-pmrfc3164.sh: a parser() instance with
    permit.slashesinhostname bound via legacy $rulesetparser."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%hostname%\\n")
parser(name="pmrfc3164.hostname_with_slashes" type="pmrfc3164" permit.slashesinhostname="on")
$rulesetparser pmrfc3164.hostname_with_slashes
local4.debug action(type="omfile" template="outfmt" file="@OUT@")
input(type="imfile" file="@IN@")
''', "<167>Mar  6 16:57:54 hostname1/hostname2 test: msgnum:0\n",
       sub="h3")
    assert out == "hostname1/hostname2\n"


def test_hostname_with_slash_pmrfc5424(spark, tmp_path):
    """hostname-with-slash-pmrfc5424.sh: the RFC5424 parser accepts
    slashes in HOSTNAME (any PRINTUSASCII); bound by builtin name
    via $rulesetparser rsyslog.rfc5424."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%hostname%\\n")
$rulesetparser rsyslog.rfc5424
local4.debug action(type="omfile" template="outfmt" file="@OUT@")
input(type="imfile" file="@IN@")
''', '<167>1 2003-03-01T01:00:00.000Z hostname1/hostname2 tcpflood - '
     'tag [tcpflood@32473 MSGNUM="0"] data\n',
       sub="h5")
    assert out == "hostname1/hostname2\n"


def test_discard_allmark_legacy(spark, tmp_path):
    """discard-allmark.sh: legacy property-filter discard ('~') plus
    a '?dynfile;outfmt' dynafile target with template suffix and a
    legacy $template line — msgs 2..10 survive (1 discarded),
    rendered as field 2 of msg split on ':' (seq_check 2 10)."""
    lines = "".join(
        f"<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:{i:08d}:\n"
        for i in range(1, 11))
    out = _run(spark, tmp_path, '''
$ActionWriteAllMarkMessages on

:msg, contains, "00000001" ~

$template outfmt,"%msg:F,58:2%\\n"
template(name="dynfile" type="string" string="@OUT@")
:msg, contains, "msgnum:" ?dynfile;outfmt
input(type="imfile" file="@IN@")
''', lines, sub="am")
    assert sorted(out.splitlines()) == [f"{i:08d}" for i in range(2, 11)]


def test_discard_rptdmsg_legacy(spark, tmp_path):
    """discard-rptdmsg.sh: $RepeatedMsgReduction on with all-unique
    messages — nothing reduced, msg 1 discarded, fields 2/3/4 of the
    ':'-split msg render (fields 3/4 empty: the trailing ':' yields
    one empty field, field 4 is absent)."""
    lines = "".join(
        f"<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:{i:08d}:\n"
        for i in range(1, 11))
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%msg:F,58:2%,%msg:F,58:3%,%msg:F,58:4%\\n")
$RepeatedMsgReduction on

:msg, contains, "00000001" ~
:msg, contains, "msgnum:" action(type="omfile" file="@OUT@" template="outfmt")
input(type="imfile" file="@IN@")
''', lines, sub="rm")
    assert sorted(out.splitlines()) == [
        f"{i:08d},,**FIELD NOT FOUND**" for i in range(2, 11)]


def test_immark_message_shape(spark, tmp_path):
    """immark-ruleset{,-custom-msg}.sh / immark-inputname.sh: the
    injected MARK message has TAG 'rsyslogd:', inputname 'immark',
    PRI syslog.info, and the configured markMessageText — the stock
    file render contains 'rsyslogd: -- MARK --' (content_check
    strings copied verbatim)."""
    from pyspark.sql import functions as F

    from rsyslog_spark.streaming.sources import mark_message_cols
    from rsyslog_spark.templates import (BUILTIN_TEMPLATES,
                                         compile_template_string)

    base = spark.range(1).select(
        *mark_message_cols(),
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        .alias("timereported"))
    line = base.select(compile_template_string(
        BUILTIN_TEMPLATES["RSYSLOG_FileFormat"]).col().alias("o")) \
        .first()["o"]
    assert "rsyslogd: -- MARK --" in line
    row = base.first()
    assert row["inputname"] == "immark"
    assert row["pri"] == 46 and row["syslogfacility"] == 5

    custom = spark.range(1).select(
        *mark_message_cols("My MARK Message"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        .alias("timereported"))
    line = custom.select(compile_template_string(
        BUILTIN_TEMPLATES["RSYSLOG_FileFormat"]).col().alias("o")) \
        .first()["o"]
    assert "rsyslogd: My MARK Message" in line


def test_fieldtest_f32(spark, tmp_path):
    """fieldtest.sh: %msg:F,32:2% — field 2 of the space-split MSG
    (char 32), EXPECTED copied verbatim."""
    out = _run(spark, tmp_path, '''
global(parser.removeMsgFirstSpace="off")
template(name="outfmt" type="string" string="%msg:F,32:2%\\n")
ruleset(name="ruleset1") {
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="ruleset1")
''', "<167>Mar  6 16:57:54 172.20.245.8 %PIX-7-710005: "
     "DROP_url_www.sina.com.cn:IN=eth1 OUT=eth0 SRC=192.168.10.78 "
     "DST=61.172.201.194 LEN=1182 TOS=0x00 PREC=0x00 TTL=63 ID=14368 "
     "DF PROTO=TCP SPT=33343 DPT=80 WINDOW=92 RES=0x00 ACK PSH "
     "URGP=0\n", sub="f32")
    assert out == "DROP_url_www.sina.com.cn:IN=eth1\n"


def test_mmnormalize_rule_from_array(spark, tmp_path):
    """mmnormalize_rule_from_array.sh: three inline rule= entries as
    a config ARRAY parse and bind; all messages flow (single-digit
    'Mar 6' days exercise the 1-2-digit day grammar)."""
    out = _run(spark, tmp_path, '''
global(parser.removeMsgFirstSpace="off")
template(name="outfmt" type="string" string="%hostname% %syslogtag%\\n")
ruleset(name="norm") {
  action(type="mmnormalize" rule=["rule=: no longer listening on %ip:ipv4%#%port:number%", "rule=: is sending messages on %ip:ipv4%", "rule=: apfelkuchen"])
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="norm")
''', "<167>Mar 6 16:57:54 ubuntu tag1: no longer listening on "
     "127.168.0.1#10514\n"
     "<167>Mar 6 16:57:54 debian tag2: is sending messages on "
     "127.168.0.1\n"
     "<167>Mar 6 16:57:54 centos tag3: apfelkuchen\n", sub="nra")
    assert sorted(out.splitlines()) == sorted(
        ["ubuntu tag1:", "debian tag2:", "centos tag3:"])


def test_mmnormalize_rule_from_string(spark, tmp_path):
    """mmnormalize_rule_from_string.sh: one inline rule= string over
    useRawMsg (headerless lines; char-to:\\x3a hex-escape type)."""
    out = _run(spark, tmp_path, r'''
global(parser.removeMsgFirstSpace="off")
template(name="outfmt" type="string" string="%hostname% %syslogtag%\n")
ruleset(name="norm") {
  action(type="mmnormalize" useRawMsg="on" rule="rule=:%host:word% %tag:char-to:\x3a%: no longer listening on %ip:ipv4%#%port:number%")
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="norm")
''', "ubuntu tag1: no longer listening on 127.168.0.1#10514\n"
     "debian tag2: no longer listening on 127.168.0.2#10514\n"
     "centos tag3: no longer listening on 192.168.0.1#10514\n",
       sub="nrs")
    assert sorted(out.splitlines()) == sorted(
        ["ubuntu tag1:", "debian tag2:", "centos tag3:"])


def test_msg_json_set_regression(spark, tmp_path):
    """msg_json_set_regression.sh: a nested `set $!...` whose value
    and existing leaf are both OBJECTS merges at the leaf
    (msg.c:5139 jsonMerge), and an overlong (>=1024 char) path
    component refuses the whole set instead of truncating
    (jsonPathFindNext). EXPECTED copied verbatim."""
    import warnings

    long_comp = "toolong_" + "x" * 1200
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%$!%\\n")
ruleset(name="m") {
  set $.ret = parse_json("{\\"keep\\":\\"orig\\"}", "\\$.target");
  set $.ret = parse_json("{\\"escape\\":\\"merged\\"}", "\\$.merge");
  set $!target!node = $.target;
  set $!target!node = $.merge;
  unset $.target;
  unset $.merge;
  set $!LONGCOMP!child = "blocked";
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
'''.replace("LONGCOMP", long_comp),
            "<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:00000000:\n",
            sub="mj")
    assert out == ('{ "target": { "node": { "keep": "orig", '
                   '"escape": "merged" } } }\n')


def test_mmtaghostname_tag(spark, tmp_path):
    """mmtaghostname_tag.sh: the tag= param replaces the message TAG
    (source labeling for relayed feeds) — EXPECTED verbatim."""
    out = _run(spark, tmp_path, '''
template(name="test" type="string" string="tag: %syslogtag%, server: %hostname%, msg: %msg%\\n")
ruleset(name="ruleset") {
  action(type="mmtaghostname" tag="source-imtcp")
  action(type="omfile" file="@OUT@" template="test")
}
input(type="imfile" file="@IN@" ruleset="ruleset")
''', "<189>1 2019-03-03T16:09:56.185+00:00 server app 123.4 msgid - "
     "%SYS-5-CONFIG_I: Configured from console by adminsepp on vty0 "
     "(10.23.214.226)\n", sub="mth1")
    assert out == ('tag: source-imtcp, server: server, msg: '
                   '%SYS-5-CONFIG_I: Configured from console by '
                   'adminsepp on vty0 (10.23.214.226)\n')


def test_mmtaghostname_server(spark, tmp_path):
    """mmtaghostname_server.sh: forceLocalHostname rewrites hostname
    to global(localhostname=...); the non-numeric PROCID '123.4'
    still emulates into the 'app[123.4]' tag — EXPECTED verbatim."""
    out = _run(spark, tmp_path, '''
global(localhostname="frontAPP")
template(name="test" type="string" string="tag: %syslogtag%, server: %hostname%, msg: %msg%\\n")
ruleset(name="ruleset") {
  action(type="mmtaghostname" forcelocalhostname="on")
  action(type="omfile" file="@OUT@" template="test")
}
input(type="imfile" file="@IN@" ruleset="ruleset")
''', "<189>1 2019-03-03T16:09:56.185+00:00 server app 123.4 msgid - "
     "%SYS-5-CONFIG_I: Configured from console by adminsepp on vty0 "
     "(10.23.214.226)\n", sub="mth2")
    assert out == ('tag: app[123.4], server: frontAPP, msg: '
                   '%SYS-5-CONFIG_I: Configured from console by '
                   'adminsepp on vty0 (10.23.214.226)\n')


def test_omfile_subtree_jsonf(spark, tmp_path):
    """omfile-subtree-jsonf.sh: exec_template of a subtree template
    lands the SPACED json-c text in a local var; the jsonf list
    template embeds it as an escaped JSON string value."""
    import json as _json

    out = _run(spark, tmp_path, '''
template(name="eventSubtree" type="subtree" subtree="$!event")
template(name="jsonfList" type="list" option.jsonf="on") {
  property(outname="message" name="$.payload" format="jsonf")
}
ruleset(name="m") {
  if $msg contains "msgnum:" then {
    set $!event!level = "error";
    set $!event!code = 500;
    set $.payload = exec_template("eventSubtree");
    action(type="omfile" file="@OUT@" template="jsonfList")
  }
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:00000000:\n",
       sub="osj")
    payload = _json.loads(out)
    assert payload["message"] == '{ "level": "error", "code": 500 }'


def test_mmpstrucdata_container_null(spark, tmp_path):
    """mmpstrucdata-container-null.sh + mmpstrucdata-rfc3164-skip.sh:
    jsonRoot/container land the SD parse at a custom path; a NIL SD
    ('-') stores an EXPLICIT json null container; a legacy message
    without SD leaves the tree untouched (the filter sees '')."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%$!structured-data%\\n")
ruleset(name="m") {
  action(type="mmpstrucdata" jsonRoot="$!structured-data" container="custom-sd")
  if $!structured-data != "" then
    action(type="omfile" template="outfmt" file="@OUT@")
}
input(type="imfile" file="@IN@" ruleset="m")
''', '<85>1 2026-05-22T08:00:00.000+00:00 host app proc msgid '
     '[test@32473 key="value"] MMPSTRUCDATA with sd\n'
     '<85>1 2026-05-22T08:00:00.000+00:00 host app proc msgid - '
     'MMPSTRUCDATA without sd\n'
     '<85>May 22 08:00:00 host app: MMPSTRUCDATA legacy without sd\n',
       sub="psd")
    assert sorted(out.splitlines()) == sorted(
        ['{ "custom-sd": { "test@32473": { "key": "value" } } }',
         '{ "custom-sd": null }'])


def test_empty_ruleset(spark, tmp_path):
    """empty-ruleset.sh: messages bound to an EMPTY ruleset vanish;
    the real ruleset's messages flow (seq_check analog)."""
    lines_real = "".join(
        f"<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:{i:08d}:\n"
        for i in range(5000, 5005))
    lines_empty = "".join(
        f"<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:{i:08d}:\n"
        for i in range(5))
    srce = tmp_path / "in_empty.log"
    srce.write_text(lines_empty)
    out = _run(spark, tmp_path, f'''
$template outfmt,"%msg:F,58:2%\\n"
ruleset(name="empty") {{
}}
ruleset(name="real") {{
  action(type="omfile" file="@OUT@" template="outfmt")
}}
input(type="imfile" file="{srce}" ruleset="empty")
input(type="imfile" file="@IN@" ruleset="real")
''', lines_real, sub="er")
    assert sorted(out.splitlines()) == [
        f"{i:08d}" for i in range(5000, 5005)]


def test_perctile_simple(spark, tmp_path):
    """perctile-simple.sh: percentile_observe over values 1..1000
    with the reference's NEAREST-RANK pick — the impstats line
    carries STATNAME|p95=950, p50=500, p99=990, window_min=1,
    window_max=1000, window_sum=500500 (content checks verbatim)."""
    from rsyslog_spark.config.runtime import run_config_batch

    lines = "".join(
        f"<167>Mar  1 01:00:00 192.0.2.8 tag msgnum:{i}\n"
        for i in range(1, 1001))
    src = tmp_path / "in_pct.log"
    src.write_text(lines)
    conf = f'''
global(parser.removeMsgFirstSpace="off")
percentile_stats(name="pctbkt" percentiles=["95", "50", "99"]
  windowsize="1000" delimiter="|")
ruleset(name="m") {{
  if $msg startswith " msgnum:" then {{
    set $.val = field($msg, 58, 2);
    set $.status = percentile_observe("pctbkt", "msgcount", $.val);
  }}
}}
input(type="imfile" file="{src}" ruleset="m")
'''
    run = run_config_batch(spark, conf)
    line = run.perctile_lines()[0]
    for frag in ("msgcount|p95=950", "msgcount|p50=500",
                 "msgcount|p99=990", "msgcount|window_min=1",
                 "msgcount|window_max=1000",
                 "msgcount|window_sum=500500",
                 "msgcount|window_count=1000"):
        assert frag in line, (frag, line)


def test_lookup_table_rscript_reload(spark, tmp_path):
    """lookup_table_rscript_reload{,_without_stub}.sh (batch analog:
    one reload per run — each run_config_batch re-reads the table
    file, matching the reference's await_lookup_table_reload
    phases): values follow the file versions; a MISSING file with a
    reload stub configured switches the table to stub mode where
    every lookup returns the stub."""
    tblf = tmp_path / "xlate.lkp_tbl"
    conf = f'''
global(parser.removeMsgFirstSpace="off")
lookup_table(name="xlate" file="{tblf}")
template(name="outfmt" type="string" string="- %msg% %$.lkp%\\n")
ruleset(name="m") {{
  set $.lkp = lookup("xlate", $msg);
  if ($msg == " msgnum:00000002:") then {{
    reload_lookup_table("\\x78\\x6C\\x61\\x74\\x65", "\\x72\\x65\\x6C\\x6F\\x61\\x64\\x5F\\x66\\x61\\x69\\x6C\\x65\\x64")
  }}
  action(type="omfile" file="@OUT@" template="outfmt")
}}
input(type="imfile" file="@IN@" ruleset="m")
'''
    lines = "".join(
        f"<167>Mar  1 01:00:00 h tag msgnum:{i:08d}:\n"
        for i in range(3))
    tblf.write_text('{"table":[' 
                    '{"index":" msgnum:00000001:", "value":"bar_old"},'
                    '{"index":" msgnum:00000000:", "value":"foo_old"}]}')
    out = _run(spark, tmp_path, conf, lines, sub="lr1")
    assert "msgnum:00000000: foo_old" in out
    assert "msgnum:00000001: bar_old" in out
    assert "baz" not in out
    # phase 2: more entries
    tblf.write_text('{"table":[' 
                    '{"index":" msgnum:00000000:", "value":"foo_new"},'
                    '{"index":" msgnum:00000001:", "value":"bar_new"},'
                    '{"index":" msgnum:00000002:", "value":"baz"}]}')
    out = _run(spark, tmp_path, conf, lines, sub="lr1")
    assert "msgnum:00000000: foo_new" in out
    assert "msgnum:00000002: baz" in out
    # phase 3: file gone -> STUB mode, every lookup = reload_failed
    import os as _os
    _os.unlink(tblf)
    out = _run(spark, tmp_path, conf, lines, sub="lr1")
    assert "msgnum:00000000: reload_failed" in out


def test_mmutf8fix_replacement_sequence(spark, tmp_path):
    """mmutf8fix replacementSequence (mmutf8fix.c:81,171-192):
    invalid UTF-8 replaces with a multi-char sequence. Divergence
    (documented): the reference fixes raw BYTES; line-framed Spark
    sources decode first, so each decoder-emitted U+FFFD is
    replaced. Verified over a file containing an invalid byte."""
    src = tmp_path / "raw_u8.log"
    src.write_bytes(
        b"<134>Mar  1 01:00:00 host tag: bad\xa0byte here\n")
    out = _run(spark, tmp_path, f'''
global(parser.removeMsgFirstSpace="off")
template(name="outfmt" type="string" string="%msg%\\n")
ruleset(name="m") {{
  action(type="mmutf8fix" replacementSequence="<?>")
  action(type="omfile" file="@OUT@" template="outfmt")
}}
input(type="imfile" file="{src}" ruleset="m")
''', "", sub="u8")
    assert out == " bad<?>byte here\n"


def test_mmjsontransform_policy(spark, tmp_path):
    """mmjsontransform-policy-basic.sh (per-run reload analog of the
    reference's HUP phases): a YAML policy drives mode +
    rename/drop on the shared flat-key representation — phase 1
    flatten (usr→user.name, ctx.old→ctx.new, drop debug), phase 2
    unflatten (usr→actor.name, ctx.old→ctx.after). Expected dicts
    copied verbatim from the reference's python check."""
    import json as _json

    pol = tmp_path / "policy.yaml"
    conf = f'''
global(parser.removeMsgFirstSpace="off")
template(name="outfmt" type="string" string="%$!output%\\n")
ruleset(name="m") {{
  set $.ret = parse_json($msg, "\\$!input");
  action(type="mmjsontransform" policy="{pol}" input="$!input" output="$!output")
  action(type="omfile" file="@OUT@" template="outfmt")
}}
input(type="imfile" file="@IN@" ruleset="m")
'''
    pol.write_text(
        "version: 1\nmode: flatten\nmap:\n  rename:\n"
        '    "usr": "user.name"\n    "ctx.old": "ctx.new"\n'
        "  drop:\n    - \"debug\"\n")
    out = _run(spark, tmp_path,
               conf, '<166>Mar 10 01:00:00 host app: '
               '{ "usr": "alice", "debug": true, "ctx": { "old": 1 } }'
               "\n", sub="pol")
    assert _json.loads(out) == {"user.name": "alice", "ctx.new": 1}
    pol.write_text(
        "version: 1\nmode: unflatten\nmap:\n  rename:\n"
        '    "usr": "actor.name"\n    "ctx.old": "ctx.after"\n')
    out = _run(spark, tmp_path,
               conf, '<166>Mar 10 01:00:00 host app: '
               '{ "usr": "bob", "debug": true, "ctx": { "old": 2 } }'
               "\n", sub="pol2")
    assert _json.loads(out) == {
        "actor": {"name": "bob"}, "ctx": {"after": 2}, "debug": True}

    # phase 3: INVALID reload (mode "sideways") keeps serving the
    # last good policy — message 3 renders with policy 2 — and the
    # reload failure is logged (reference: "failed to reload policy
    # file" in rsyslogd's log, policy-basic.sh:121)
    import logging

    pol.write_text(
        "version: 1\nmode: sideways\nmap:\n  rename:\n"
        '    "usr": "broken.name"\n')
    records = []

    class _Cap(logging.Handler):
        def emit(self, r):
            records.append(r.getMessage())

    lg = logging.getLogger("rsyslog_spark.mmjsontransform")
    h = _Cap()
    lg.addHandler(h)
    try:
        out = _run(spark, tmp_path,
                   conf, '<166>Mar 10 01:00:00 host app: '
                   '{ "usr": "carol", "debug": true, '
                   '"ctx": { "old": 3 } }'
                   "\n", sub="pol3")
    finally:
        lg.removeHandler(h)
    assert _json.loads(out) == {
        "actor": {"name": "carol"}, "ctx": {"after": 3},
        "debug": True}
    assert any("failed to reload policy file" in m for m in records)

    # phase 4: malformed dotted key ('a.' — trailing empty segment)
    # is a hierarchy conflict: the output property is never set, so
    # the message contributes no JSON line (reference checker strips
    # empty lines; policy-basic.sh:65-67,126)
    out = _run(spark, tmp_path,
               conf, '<166>Mar 10 01:00:00 host app: '
               '{ "a.": "bad" }'
               "\n", sub="pol4")
    assert out.strip() == ""


def test_mmjsontransform_policy_watch_debounce(spark, tmp_path):
    """mmjsontransform policyWatch + policyWatchDebounce (ChangeLog
    2026-04-13; defaults mmjsontransform.c:266-267): with the watch
    on, an edit YOUNGER than the debounce window keeps serving the
    old policy for the next run; once the change is older than the
    debounce it reloads."""
    import json as _json
    import os as _os
    import time as _time

    from rsyslog_spark.config import rswatch

    rswatch.reset()
    pol = tmp_path / "policy.yaml"
    conf = f'''
global(parser.removeMsgFirstSpace="off")
template(name="outfmt" type="string" string="%$!output%\\n")
ruleset(name="m") {{
  set $.ret = parse_json($msg, "\\$!input");
  action(type="mmjsontransform" policy="{pol}" policyWatch="on"
         policyWatchDebounce="1m" input="$!input"
         output="$!output")
  action(type="omfile" file="@OUT@" template="outfmt")
}}
input(type="imfile" file="@IN@" ruleset="m")
'''
    pol.write_text("version: 1\nmode: flatten\nmap:\n  rename:\n"
                   '    "usr": "user.name"\n')
    msg = ('<166>Mar 10 01:00:00 host app: '
           '{ "usr": "alice", "ctx": { "old": 1 } }\n')
    out = _run(spark, tmp_path, conf, msg, sub="w1")
    assert _json.loads(out) == {"user.name": "alice", "ctx.old": 1}
    # fresh edit (younger than the 1m debounce) → old policy served
    pol.write_text("version: 1\nmode: flatten\nmap:\n  rename:\n"
                   '    "usr": "actor.name"\n')
    out = _run(spark, tmp_path, conf, msg, sub="w2")
    assert _json.loads(out) == {"user.name": "alice", "ctx.old": 1}
    # a change older than the debounce window reloads (backdate the
    # mtime rather than sleeping a minute)
    past = _time.time() - 120
    _os.utime(pol, (past, past))
    out = _run(spark, tmp_path, conf, msg, sub="w3")
    assert _json.loads(out) == {"actor.name": "alice", "ctx.old": 1}


def test_omfile_outchannel_module_template(spark, tmp_path):
    """omfile-outchannel.sh: ':omfile:$channel' selector target plus
    module(load="builtin:omfile" template=...) as the default omfile
    template — messages land in the outchannel's file rendered with
    the module default (seq_check analog)."""
    ch = tmp_path / "channel.log"
    lines = "".join(
        f"<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:{i:08d}:\n"
        for i in range(5))
    out = _run(spark, tmp_path, f'''
template(name="outfmt" type="string" string="%msg:F,58:2%\\n")
module(load="builtin:omfile" template="outfmt")
$outchannel log_rotation,{ch}, 50000
:msg, contains, "msgnum:" :omfile:$log_rotation
input(type="imfile" file="@IN@")
''', lines, sub="och")
    del out
    import os as _os
    got = "".join(
        open(_os.path.join(ch, p)).read()
        for p in sorted(_os.listdir(ch)) if p.startswith("part")) \
        if _os.path.isdir(ch) else open(ch).read()
    assert sorted(got.splitlines()) == [f"{i:08d}" for i in range(5)]


def test_config_output_o_option(tmp_path):
    """config_output-o-option.sh: the -o merged-config output
    expands include() splices inline with the lexer's
    '##### BEGIN CONFIG: <file> (put on stack)' markers
    (grammar/lexer.l:572) — content checks copied verbatim."""
    import re

    from rsyslog_spark.config.translate import full_config

    inc = tmp_path / "include-std-omfile-action.conf"
    inc.write_text('action(type="omfile" template="outfmt" '
                   'file="/tmp/out.log")\n')
    conf = ('template(name="outfmt" type="string" '
            'string="%msg:F,58:2%\\n")\n'
            'if $msg contains "msgnum:" then {\n'
            f'  include(file="{tmp_path}/include-std-omfile-actio*.conf")\n'
            '}\n')
    full = full_config(conf, str(tmp_path))
    assert 'if $msg contains "msgnum:" then' in full
    assert 'action(type="omfile"' in full
    assert re.search(
        r"BEGIN CONFIG: .*include-std-omfile-action.conf", full)


def test_omsendertrack_statefile(spark, tmp_path):
    """omsendertrack-statefile.sh: the statefile is a JSON array of
    {"sender","messages","firstseen","lastseen"} records written
    atomically (writeSenderStats format, grep checks verbatim)."""
    import json as _json

    st = tmp_path / "sendertrack.json"
    lines = ("<167>Mar  1 01:00:00 sender1.example.net tag "
             "msgnum:00000000:\n"
             "<167>Mar  1 01:00:00 sender1.example.net tag "
             "msgnum:00000001:\n")
    _run(spark, tmp_path, f'''
template(name="hostname" type="string" string="%hostname%")
template(name="outfmt" type="string" string="%msg:F,58:2%\\n")
ruleset(name="m") {{
  action(type="omsendertrack" senderid="hostname" statefile="{st}")
  :msg, contains, "msgnum:" action(type="omfile" template="outfmt" file="@OUT@")
}}
input(type="imfile" file="@IN@" ruleset="m")
''', lines, sub="str")
    txt = st.read_text()
    assert '"sender":"sender1.example.net"' in txt
    assert '"messages":2' in txt
    recs = _json.loads(txt)
    assert recs[0]["firstseen"] > 0 and recs[0]["lastseen"] >= \
        recs[0]["firstseen"]


def test_container_noise_drop(spark, tmp_path):
    """container-noise-drop.sh (reload-per-run analog of the HUP
    phases): a REGEX lookup table tags noise lines; a non-empty tag
    stops the message. Phase 1 empty table passes everything; phase
    2 drops the matching line and keeps the rest."""
    tbl = tmp_path / "noise.lkp_tbl"
    conf = f'''
lookup_table(name="container_noise" file="{tbl}")
template(name="outfmt" type="string" string="%msg%\\n")
ruleset(name="m") {{
  set $.container_noise_tag = lookup("container_noise", $rawmsg);
  if (strlen($.container_noise_tag) > 0) then {{
    stop
  }}
  action(type="omfile" file="@OUT@" template="outfmt")
}}
input(type="imfile" file="@IN@" ruleset="m")
'''
    tbl.write_text('{ "version": 1, "nomatch": "", "type": "regex", '
                   '"table": [] }')
    out = _run(spark, tmp_path, conf,
               "<165>1 2003-03-01T01:00:00.000Z host app - - - "
               "empty-table-pass\n", sub="cn1")
    assert "empty-table-pass" in out
    tbl.write_text('{ "version": 1, "nomatch": "", "type": "regex", '
                   '"table": [ { "regex": "drop-default", '
                   '"tag": "drop" } ] }')
    out = _run(spark, tmp_path, conf,
               "<165>1 2003-03-01T01:00:00.000Z host app - - - "
               "keep-default\n"
               "<165>1 2003-03-01T01:00:01.000Z host app - - - "
               "drop-default\n", sub="cn2")
    assert "keep-default" in out
    assert "drop-default" not in out


def test_imkubernetes_dockerjson(spark, tmp_path):
    """imkubernetes-dockerjson-basic.sh: docker json-file records
    parse log/stream/time, pod metadata comes from the containers/
    symlink name, log_format is 'docker_json' — assertions copied
    from the reference's python check."""
    d = tmp_path / "containers"
    d.mkdir()
    f = d / "pod-name2_namespace-name2_container-b-deadbeef.log"
    f.write_text(
        '{"log":"docker stdout line\\n","stream":"stdout",'
        '"time":"2026-04-20T10:01:00.123456789Z"}\n'
        '{"log":"docker stderr line\\n","stream":"stderr",'
        '"time":"2026-04-20T10:01:01.123456789Z"}\n')
    from rsyslog_spark.streaming.bridges import imkubernetes_dockerjson

    rows = {r["line"]: r for r in
            imkubernetes_dockerjson(spark, str(d)).collect()}
    assert len(rows) == 2
    so = rows["docker stdout line"]
    assert so["namespace"] == "namespace-name2"
    assert so["pod"] == "pod-name2"
    assert so["container"] == "container-b"
    assert so["stream"] == "stdout"
    assert so["log_format"] == "docker_json"
    assert so["container_id"] == "deadbeef"
    se = rows["docker stderr line"]
    assert se["stream"] == "stderr"
    assert se["container_id"] == "deadbeef"


def test_mmleefparse_basic(spark, tmp_path):
    """mmleefparse_basic.sh: useRawMsg cookie search finds 'LEEF:'
    past the syslog header; header fields and '|'-delimited k=v
    extensions land under $!leef — EXPECTED copied verbatim (first
    message; the full battery repeats the shape)."""
    msg = ("<14>Sep 17 13:45:35 firewall.domain.local LEEF:1.0|"
           "Palo Alto Networks|PAN-OS Syslog Integration|11.1.6-h14|"
           "allow|cat=TRAFFIC|src=172.19.50.39|dst=172.19.5.50|"
           "proto=tcp|action=allow|SessionID=74879677")
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%$!leef!header!vendor%|%$!leef!header!productVersion%|%$!leef!fields!src%|%$!leef!fields!dst%|%$!leef!fields!action%|%$!leef!fields!cat%|%$!leef!fields!proto%|%$!leef!fields!SessionID%\\n")
ruleset(name="m") {
  if $syslogtag == "LEEF:" then {
    action(type="mmleefparse" container="!leef" delimiter="|")
    if $parsesuccess == "OK" then {
      action(type="omfile" file="@OUT@" template="outfmt")
    }
  }
}
input(type="imfile" file="@IN@" ruleset="m")
''', msg + "\n", sub="leef")
    assert out == ("Palo Alto Networks|11.1.6-h14|172.19.50.39|"
                   "172.19.5.50|allow|TRAFFIC|tcp|74879677\n")


def test_now_utc_props_under_non_utc_session_tz(spark):
    """$now-utc / $hour-utc render the UTC wall clock under ANY
    spark.sql.session.timeZone (ref: msg.c getNOW inUTC,
    template date options template.h:72-96). Under America/New_York
    (UTC-4/-5) the plain and -utc variants differ for most of the
    day; the -utc ones must equal Python's datetime.now(UTC)."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from rsyslog_spark.templates import prop_col

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        before = datetime.now(timezone.utc)
        row = spark.range(1).select(
            prop_col("now-utc").alias("d"),
            prop_col("hour-utc").alias("h"),
            prop_col("minute-utc").alias("m"),
            prop_col("now").alias("local_d"),
            prop_col("hour").alias("local_h"),
        ).first()
        after = datetime.now(timezone.utc)
        # tolerate crossing a minute/hour/day boundary mid-test
        ok_d = {before.strftime("%Y-%m-%d"), after.strftime("%Y-%m-%d")}
        ok_h = {before.strftime("%H"), after.strftime("%H")}
        ok_m = {before.strftime("%M"), after.strftime("%M")}
        assert row["d"] in ok_d
        assert row["h"] in ok_h
        assert row["m"] in ok_m
        # and the local variants follow the session tz (EDT/EST is
        # 4-5 hours behind UTC — hour must differ unless the local
        # hour happens to collide across the boundary set)
        ny_before = before.astimezone(
            __import__("zoneinfo").ZoneInfo("America/New_York"))
        assert row["local_h"] in {
            ny_before.strftime("%H"),
            after.astimezone(__import__("zoneinfo").ZoneInfo(
                "America/New_York")).strftime("%H")}
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_template_pos_from_to_oversize(spark, tmp_path):
    """template-pos-from-to-oversize{,-lowercase}.sh: position.from/
    to beyond the value's length renders EMPTY (never an error, never
    padding) — EXPECTED '--' via cmp, string form, list form, and
    with a case-conversion option stacked on top."""
    line = "<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:00000000:\n"
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="-%msg:109:116:%-\\n")
ruleset(name="m") {
  :msg, contains, "msgnum:" action(type="omfile" file="@OUT@"
                                   template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', line, sub="pstr")
    assert out == "--\n"
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="list") {
  constant(value="-")
  property(name="msg" position.from="109" position.to="116")
  constant(value="-")
  constant(value="\\n")
}
ruleset(name="m") {
  :msg, contains, "msgnum:" action(type="omfile" file="@OUT@"
                                   template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', line, sub="plist")
    assert out == "--\n"
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string"
         string="-%msg:109:116:lowercase%-\\n")
ruleset(name="m") {
  :msg, contains, "msgnum:" action(type="omfile" file="@OUT@"
                                   template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', line, sub="plc")
    assert out == "--\n"


def test_template_property_transformations_battery(spark, tmp_path):
    """template-property-transformations.sh — the reference's full
    deterministic MsgGetProp battery (115 lines, sorted compare):
    field extraction (incl. empty/final/missing), substring bounds
    (negative to, underflow, beyond, superset, relativetoend,
    fixedwidth), regex match/submatch + all four nomatch modes,
    case conversion, compressspace, droplastlf, spifno1stsp, all
    controlcharacters modes, securepath drop/replace (+ the empty/
    './..' quirks), CSV/json/jsonf/jsonr/jsonfr formats, the jsonf
    dataType/omitIfZero/onEmpty fragments, header properties (iut,
    pri-text, rawmsg-after-pri, parsesuccess), every timereported
    dateformat (mysql/pgsql/rfc3164[-buggyday]/unixtimestamp/
    subseconds/wdayname/wday/tzoffs*/ordinal/week/parts) local and
    date.inUTC, plus the legacy string-template spellings and the
    3164/5424-NIL/3164-no-tag header shapes. EXPECTED read verbatim
    from the reference .sh."""
    import re

    sh = open("/root/reference/tests/"
              "template-property-transformations.sh").read()
    expected = re.search(r"export EXPECTED='(.*?)'\n", sh,
                         re.S).group(1)
    outfmt = re.search(
        r"(template\(name=\"outfmt\".*?\n\})\n", sh, re.S).group(1)
    legacyfmt = re.search(
        r"(template\(name=\"legacyfmt\".*?\n)\ntemplate", sh,
        re.S).group(1)
    shapefmt = re.search(
        r"(template\(name=\"shapefmt\".*?\n\})\n", sh, re.S).group(1)
    sets = "\n".join(ln.strip() for ln in sh.splitlines()
                     if ln.strip().startswith("set $!"))
    # the engine's 3164 default strips the MSG leading space
    # (documented divergence, COVERAGE pmrfc3164 row); the reference
    # default keeps it (pmrfc3164.c:510 bRemoveMsgFirstSpace=0) —
    # shape_msg=' shape3164'. The instance param restores it.
    conf = (outfmt + "\n" + legacyfmt + "\n" + shapefmt + '''
parser(name="p5424" type="pmrfc5424")
parser(name="p3164" type="pmrfc3164" remove.msgFirstSpace="off")
ruleset(name="m" parser=["p5424","p3164"]) {
  if ($rawmsg contains "shape") then {
    action(type="omfile" file="@OUT@" template="shapefmt")
  } else {
''' + sets + '''
    action(type="omfile" file="@OUT@" template="outfmt")
    action(type="omfile" file="@OUT@" template="legacyfmt")
  }
}
input(type="imfile" file="@IN@" ruleset="m")
''')
    lines = (
        "<167>1 2003-08-24T05:14:15.000003-07:00 host/name app proc"
        " msgid - trigger/path  a  b\n"
        "<167>Aug 24 05:14:15 legacyhost legacyprog[42]: shape3164\n"
        "<167>1 2003-08-24T05:14:15.000003-07:00 nilhost - - - -"
        " shape5424nil\n"
        "<167>Aug 24 05:14:15 oddhost shape3164notag\n")
    out = _run(spark, tmp_path, conf, lines)
    got = sorted(out.splitlines())
    want = sorted(expected.splitlines())
    assert got == want, "\n".join(
        f"-{w!r}\n+{g!r}" for g, w in zip(got, want) if g != w)[:4000]


def test_template_topos_neg_structured_data(spark, tmp_path):
    """template-topos-neg.sh: position.to="-1" on STRUCTURED-DATA
    strips the brackets — negative to counts from the end (msg.c
    'we ADD negative value'). EXPECTED copied verbatim."""
    out = _run(spark, tmp_path, '''
template(name="out" type="list") {
  property(name="STRUCTURED-DATA" position.from="2" position.to="-1")
  constant(value="\\n")
}
ruleset(name="m") {
  action(type="omfile" file="@OUT@" template="out")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>1 2003-03-01T01:00:00.000Z hostname1 sender - tag "
     '[tcpflood@32473 MSGNUM="0"] msgnum:irrelevant\n')
    assert out == 'tcpflood@32473 MSGNUM="0"\n'


def test_template_pos_from_to_missing_jsonvar(spark, tmp_path):
    """template-pos-from-to-missing-jsonvar.sh: substring positions
    on a MISSING $! variable render empty — '--' exactly."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string"
         string="-%$!non!existing!var:109:116:%-\\n")
ruleset(name="m") {
  :msg, contains, "msgnum:" action(type="omfile" file="@OUT@"
                                   template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:00000000:\n")
    assert out == "--\n"


def test_template_jsonf_trailing_backslash(spark, tmp_path):
    """template-jsonf-trailing-backslash.sh: a msg value ending in a
    backslash renders as VALID JSON with the backslash doubled (the
    escape lookahead must not eat the closing quote)."""
    import json

    out = _run(spark, tmp_path, '''
template(name="jsonf-backslash" type="list" option.jsonftree="on") {
  property(outname="message" name="msg" format="jsonf")
}
ruleset(name="m") {
  action(type="omfile" file="@OUT@" template="jsonf-backslash")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>1 2003-03-01T01:00:00.000Z hostname1 sender - tag "
     '[tcpflood@32473 MSGNUM="0"] endslash\\\n')
    assert json.loads(out)["message"].strip() == "endslash\\"


def test_template_pure_json(spark, tmp_path):
    """template-pure-json.sh: option.jsonftree with a jsonf property
    AND a jsonf constant — whole line is one JSON object (JSON-equal
    oracle, like the reference's python check). The reference default
    keeps the 3164 MSG leading space (' msgnum:...'), restored via
    the instance param (engine default divergence, COVERAGE)."""
    import json

    out = _run(spark, tmp_path, '''
template(name="outfmt" type="list" option.jsonftree="on") {
  property(outname="message" name="msg" format="jsonf")
  constant(outname="@version" value="1" format="jsonf")
}
parser(name="p3164" type="pmrfc3164" remove.msgFirstSpace="off")
ruleset(name="m" parser="p3164") {
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>Mar  1 01:00:00 172.20.245.8 tag msgnum:00000000:\n")
    assert json.loads(out) == {"message": " msgnum:00000000:",
                               "@version": "1"}


def test_template_missing_jsonvars_list(spark, tmp_path):
    """template-missing-jsonvars-queue.sh (issue #3311 shape): a list
    template rendering several MISSING $! JSON fields after queueing
    emits empty values — exact EXPECTED line, queue params accepted
    on the action."""
    sh = open("/root/reference/tests/"
              "template-missing-jsonvars-queue.sh").read()
    import re
    tpl = re.search(r"(template\(name=\"MTFW_CDR\".*?\n\})\n", sh,
                    re.S).group(1)
    expected = re.search(r"export EXPECTED='(.*?)'\n", sh,
                         re.S).group(1)
    out = _run(spark, tmp_path, tpl + '''
ruleset(name="m") {
  action(type="omfile" file="@OUT@" template="MTFW_CDR"
         queue.type="LinkedList" queue.filename="stats_ruleset"
         queue.size="100" queue.highWatermark="10"
         queue.lowWatermark="5" queue.saveOnShutdown="on"
         queue.checkpointInterval="1")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>1 2003-03-01T01:00:00.000Z hostname1 sender - tag "
     '[tcpflood@32473 MSGNUM="0"] data\n')
    assert out == expected + "\n"


def test_template_parameter_errors(spark, tmp_path):
    """template-parameter-errors.sh: each malformed legacy property-
    replacer parameter fails config load (the -N1 +
    abortOnUncleanConfig analog — the engine is strict-always) with
    the reference's exact diagnostic. Case table copied verbatim."""
    import pytest as _pytest

    from rsyslog_spark.config.rainerscript import parse_config

    cases = [ln.split("|") for ln in """\
invalid_option|%msg:::bogus-option%|template error: invalid field option 'bogus-option' specified - ignored
conflict_csv|%msg:::json,csv%|one option out of (json, jsonf, jsonr, jsonfr, csv) - csv ignored
conflict_json|%msg:::csv,json%|one option out of (json, jsonf, jsonr, jsonfr, csv) - json ignored
conflict_jsonf|%msg:::csv,jsonf%|one option out of (json, jsonf, jsonr, jsonfr, csv) - jsonf ignored
conflict_jsonr|%msg:::csv,jsonr%|one option out of (json, jsonf, jsonr, jsonfr, csv) - jsonr ignored
conflict_jsonfr|%msg:::csv,jsonfr%|one option out of (json, jsonf, jsonr, jsonfr, csv) - jsonfr ignored
delimiter_nondigit|%msg:F,x:2%|invalid character in frompos after "F,"
delimiter_overflow|%msg:F,999999999999999999999999:2%|delimiter value in template is too large
delimiter_nonascii|%msg:F,256:2%|non-USASCII delimiter character value 256
delimiter_tail|%msg:F,44x:2%|invalid character 'x' in frompos after "F,"
invalid_after_f|%msg:Fx:2%|invalid character in frompos after "F"
frompos_overflow|%msg:999999999999999999999999:2%|frompos value in template is too large
field_number_overflow|%msg:F,44:999999999999999999999999%|field number in template is too large
field_topos_overflow|%msg:F,44:2,999999999999999999999999%|topos value in template is too large
topos_overflow|%msg:1:999999999999999999999999%|topos value in template is too large""".splitlines()]
    for name, parameter, expected in cases:
        conf = (f'template(name="{name}" type="string" '
                f'string="{parameter}")\n')
        with _pytest.raises(ValueError) as ei:
            parse_config(conf)
        assert expected in str(ei.value), (name, str(ei.value))


def test_template_regex_index_bounds(spark, tmp_path):
    """template-regex-index-bounds.sh: list-template regex.match /
    regex.submatch outside the fixed regexec pmatch[] range 0..9 are
    rejected at config parse with the reference's message."""
    import pytest as _pytest

    from rsyslog_spark.config.rainerscript import parse_config

    with _pytest.raises(ValueError) as ei:
        parse_config('''
template(name="bad_submatch" type="list") {
  property(name="msg" regex.expression="(a)" regex.submatch="-1")
}
''')
    assert ("template bad_submatch error: regex.submatch=-1 is "
            "invalid (supported range 0..9)") in str(ei.value)
    with _pytest.raises(ValueError) as ei:
        parse_config('''
template(name="bad_match" type="list") {
  property(name="msg" regex.expression="(a)" regex.match="10")
}
''')
    assert ("template bad_match error: regex.match=10 is invalid "
            "(supported range 0..9)") in str(ei.value)


def test_template_property_timereceived_alias(spark, tmp_path):
    """template-property-timereceived.sh (faketime-free form): the
    timereceived property is an ALIAS for timegenerated — identical
    rendered values for unixtimestamp and the rfc3339 date.inUTC
    form; the golden's exact template shape, equality oracle instead
    of the FAKETIME pin."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="list") {
  constant(value="generated=")
  property(name="timegenerated" dateformat="rfc3339" date.inUTC="on")
  constant(value="\\nreceived=")
  property(name="timereceived" dateformat="rfc3339" date.inUTC="on")
  constant(value="\\nlegacy=")
  property(name="timegenerated" dateformat="unixtimestamp")
  constant(value="\\nalias=")
  property(name="timereceived" dateformat="unixtimestamp")
  constant(value="\\n")
}
ruleset(name="m") {
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>1 2003-08-24T05:14:15.000003-07:00 host app proc msgid "
     "- trigger\n", sub="trcv")
    vals = dict(ln.split("=", 1) for ln in out.splitlines())
    assert vals["generated"] == vals["received"]
    assert vals["legacy"] == vals["alias"]
    assert vals["legacy"].isdigit()
    # rfc3339 inUTC shape: +00:00 suffix like the reference golden
    assert vals["generated"].endswith("+00:00")


def test_facility_selector_battery(spark, tmp_path):
    """fac_{authpriv,ftp,local0,local7,mail,news,ntp,uucp,invld*}.sh
    battery: each named facility selector matches exactly its PRI
    range; malformed/overflow PRIs (<1011>, <3500000000>, <x112>)
    land in the 'invld' facility (parser.c parsePRI → LOG_PRI_INVLD;
    srutils.c syslogFacNames). One message per facility, each output
    file must hold exactly its own msgnum."""
    facs = {"authpriv": 81, "ftp": 89, "local0": 129, "local7": 185,
            "mail": 17, "news": 57, "ntp": 97, "uucp": 65,
            "security": 33,        # deprecated alias of auth (4)
            "console": 113}        # BSD facility 14
    lines = []
    sel = []
    for i, (name, pri) in enumerate(sorted(facs.items())):
        lines.append(f"<{pri}>Mar  1 01:00:00 h tag msgnum:{name}\n")
        sel.append(f'{name}.* action(type="omfile" '
                   f'file="@OUT@_{name}" template="outfmt")')
    for bad in ("1011", "3500000000", "x112"):
        lines.append(f"<{bad}>Mar  1 01:00:00 h tag msgnum:inv{bad}\n")
    sel.append('invld.=debug action(type="omfile" file="@OUT@_invld"'
               ' template="outfmt")')
    conf = ('template(name="outfmt" type="string" string="%msg%\\n")\n'
            + "\n".join(sel)
            + '\ninput(type="imfile" file="@IN@")\n')
    _run(spark, tmp_path, conf, "".join(lines), sub="fac")

    def read(name):
        d = f"{tmp_path}/out_fac_{name}"
        if not os.path.isdir(d):
            return []
        return sorted(
            ln for p in os.listdir(d) if p.startswith("part")
            for ln in open(os.path.join(d, p)).read().splitlines())

    for name in facs:
        got = read(name)
        assert got == [f" msgnum:{name}"] or got == [f"msgnum:{name}"], \
            (name, got)
    # invalid PRIs keep the bracket in the raw line (AfterPRIOffs=0)
    # so the header parse shifts — assert routing, not the msg shape
    inv = read("invld")
    assert len(inv) == 3
    for marker in ("msgnum:inv1011", "msgnum:inv3500000000",
                   "msgnum:invx112"):
        assert any(marker in ln for ln in inv), (marker, inv)


def test_compresssp_stringtpl(spark, tmp_path):
    """compresssp-stringtpl.sh: the legacy option is spelled
    'compressSPACE' (case-insensitive dispatch, template.c
    strcasecmp) — runs of spaces collapse. EXPECTED copied."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%msg:::compressSPACE%\\n")
ruleset(name="m") {
  :msg, contains, "msgnum:" action(type="omfile" file="@OUT@"
                                   template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<165>1 2003-08-24T05:14:15.000003-07:00 192.0.2.1 tcpflood "
     "8710 - - msgnum:0000000 test   test     test\n", sub="csp")
    assert out == "msgnum:0000000 test test test\n"


def test_action_duplicate_name_warning(spark, tmp_path):
    """action-duplicate-name.sh: duplicate EXPLICIT action names load
    fine but warn with the reference's diagnostic; auto-derived name
    collisions (file= targets) stay silent."""
    import warnings as _w

    from rsyslog_spark.config.rainerscript import parse_config

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        parse_config('''
template(name="outfmt" type="string" string="%msg%\\n")
action(name="dup_action" type="omfile" file="/tmp/a.1" template="outfmt")
action(name="dup_action" type="omfile" file="/tmp/a.2" template="outfmt")
''')
    assert any("action: duplicate name 'dup_action' in current "
               "config set; impstats counters may be ambiguous"
               in str(r.message) for r in rec)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        parse_config('''
template(name="outfmt" type="string" string="%msg%\\n")
action(type="omfile" file="/tmp/same" template="outfmt")
action(type="omfile" file="/tmp/same" template="outfmt")
''')
    assert not any("duplicate name" in str(r.message) for r in rec)


def _read_out(tmp_path, sub):
    d = f"{tmp_path}/out_{sub}"
    if not os.path.isdir(d):
        return None
    return sorted(
        ln for p in os.listdir(d) if p.startswith("part")
        for ln in open(os.path.join(d, p)).read().splitlines())


def test_failover_basic(spark, tmp_path):
    """failover-basic.sh: dead @@TCP primary suspends; the '&'
    continuation file action under $ActionExecOnlyWhenPreviousIs-
    Suspended receives EVERY message (seq_check 0..N). The legacy
    directive is sticky (action.h bExecWhenPrevSusp)."""
    lines = "".join(
        f"<13>Mar  1 01:00:00 h tag msgnum:{i:08d}:\n"
        for i in range(50))
    import warnings as _w
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        _run(spark, tmp_path, '''
$template outfmt,"%msg:F,58:2%\\n"
# note: the target server shall not be available!
:msg, contains, "msgnum:" @@127.0.0.1:13514
$ActionExecOnlyWhenPreviousIsSuspended on
& @OUT@;outfmt
input(type="imfile" file="@IN@")
''', lines, sub="fob")
    assert _read_out(tmp_path, "fob") == [
        f"{i:08d}" for i in range(50)]


def test_failover_double(spark, tmp_path):
    """failover-double.sh: TWO dead @@ targets chained — the flag is
    sticky across both '&' continuations until 'off'; the final file
    fallback still gets everything."""
    lines = "".join(
        f"<13>Mar  1 01:00:00 h tag msgnum:{i:08d}:\n"
        for i in range(10))
    import warnings as _w
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        _run(spark, tmp_path, '''
$template outfmt,"%msg:F,58:2%\\n"
:msg, contains, "msgnum:" @@127.0.0.1:13514
$ActionExecOnlyWhenPreviousIsSuspended on
&	@@127.0.0.1:1234
&	@OUT@;outfmt
$ActionExecOnlyWhenPreviousIsSuspended off
input(type="imfile" file="@IN@")
''', lines, sub="fod")
    assert _read_out(tmp_path, "fod") == [
        f"{i:08d}" for i in range(10)]


def test_failover_no_basic(spark, tmp_path):
    """failover-no-basic.sh: when the primary action SUCCEEDS, the
    execOnlyWhenPreviousIsSuspended fallback never executes — its
    output file must be empty/absent (the reference cmp's /dev/null;
    primary adapted to a writable file)."""
    lines = "".join(
        f"<13>Mar  1 01:00:00 h tag msgnum:{i:08d}:\n"
        for i in range(10))
    _run(spark, tmp_path, '''
$template outfmt,"%msg:F,58:2%\\n"
$RepeatedMsgReduction off
# second action should never execute
:msg, contains, "msgnum:" @OUT@_primary;outfmt
$ActionExecOnlyWhenPreviousIsSuspended on
& @OUT@;outfmt
input(type="imfile" file="@IN@")
''', lines, sub="fon")
    assert _read_out(tmp_path, "fon") in (None, [])
    assert len(_read_out(tmp_path, "fon_primary")) == 10


def test_failover_async_both_actions(spark, tmp_path):
    """failover-async.sh: WITHOUT the flag, '&' repeats the selector
    — the file action gets every message even though the dead @@
    primary suspends (a failing action never aborts the others)."""
    lines = "".join(
        f"<13>Mar  1 01:00:00 h tag msgnum:{i:08d}:\n"
        for i in range(10))
    import warnings as _w
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        _run(spark, tmp_path, '''
$template outfmt,"%msg:F,58:2%\\n"
$ActionQueueType LinkedList
:msg, contains, "msgnum:" @@127.0.0.1:13514
& @OUT@;outfmt
input(type="imfile" file="@IN@")
''', lines, sub="foa")
    assert _read_out(tmp_path, "foa") == [
        f"{i:08d}" for i in range(10)]


def test_empty_hostname_fallback(monkeypatch):
    """empty-hostname.sh: gethostname() returning "" falls back to
    the reference's hardcoded 'localhost-empty-hostname'."""
    import socket

    from rsyslog_spark import session as _s

    monkeypatch.setattr(socket, "gethostname", lambda: "")
    prev = _s._LOCAL_HOSTNAME[0]
    _s._LOCAL_HOSTNAME[0] = ""
    try:
        assert _s.local_hostname() == "localhost-empty-hostname"
    finally:
        _s._LOCAL_HOSTNAME[0] = prev


def test_config_enabled_off(spark, tmp_path):
    """config_enabled-{off,off-action,on}.sh: config.enabled="off"
    skips the whole object WITHOUT validating its params (a disabled
    action with invalid.param loads fine and is not instantiated);
    enabled objects still work, and config.enabled itself is never
    an unknown-parameter error."""
    from rsyslog_spark.config.rainerscript import parse_config

    # disabled input with a bogus path + disabled action with an
    # invalid param: parse succeeds, neither registers
    cfg = parse_config('''
input(type="imfile" file="/tmp/notyet.txt" tag="testing-tag"
      config.enabled="off")
ruleset(name="m") {
  action(type="omfile" file="/tmp/x1" invalid.param="error"
         config.enabled="off")
  action(type="omfile" file="/tmp/x2")
}
''')
    assert cfg.inputs == []
    from rsyslog_spark.plans.ruleset import Action, Transform
    stmts = cfg.rulesets["m"].stmts
    acts = [s for s in stmts if isinstance(s, Action)]
    assert len(acts) == 1 and acts[0].params["file"] == "/tmp/x2"
    assert any(isinstance(s, Transform)
               and s.name == "config.disabled" for s in stmts)
    # e2e: only the enabled action writes
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%msg%\\n")
ruleset(name="m") {
  action(type="omfile" file="@OUT@_off" template="outfmt"
         config.enabled="off")
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<13>Mar  1 01:00:00 h tag enabled-check\n", sub="cen")
    assert out == "enabled-check\n"  # engine strips 1st space
    assert _read_out(tmp_path, "cen_off") in (None, [])


def test_action_errorfile_records(spark, tmp_path):
    """action-tx-errfile.sh / errfile-basic.sh: a failing action with
    action.errorfile records each failed message as the reference's
    json-c SPACED record '{ "action": NAME, "status": RET,
    "template0": RENDERED }' (action.c actionWriteErrorFile);
    action.errorfile.maxsize caps the file, cutting the final record
    with its last byte turned into LF."""
    import json
    import warnings as _w

    errf = tmp_path / "act.error.log"
    lines = "".join(
        f"<13>Mar  1 01:00:00 h tag msgnum:{i:08d}:\n"
        for i in range(4))
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        _run(spark, tmp_path, '''
template(name="tpl" type="string"
         string="{\\"msgnum\\":\\"%msg:F,58:2%\\"}")
ruleset(name="m") {
  :msg, contains, "msgnum:"
    action(name="my_http_action" type="omfwd"
           target="127.0.0.1" port="13514" protocol="tcp"
           template="tpl"
           action.errorfile="''' + str(errf) + '''")
}
input(type="imfile" file="@IN@" ruleset="m")
''', lines, sub="aerr")
    recs = [json.loads(ln) for ln in
            errf.read_text().splitlines()]
    assert len(recs) == 4
    assert all(r["action"] == "my_http_action" for r in recs)
    assert all(isinstance(r["status"], int) and r["status"] < 0
               for r in recs)
    assert sorted(r["template0"] for r in recs) == [
        '{"msgnum":"%08d"}' % i for i in range(4)]
    # json-c SPACED shape byte-check on one line
    ln0 = errf.read_text().splitlines()[0]
    assert ln0.startswith('{ "action": "my_http_action", "status": ')
    assert ln0.endswith(' }')

    # maxsize: second run truncates at the cap (last byte = LF)
    errf2 = tmp_path / "act.maxsize.log"
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        _run(spark, tmp_path, '''
template(name="tpl" type="string"
         string="{\\"msgnum\\":\\"%msg:F,58:2%\\"}")
ruleset(name="m") {
  :msg, contains, "msgnum:"
    action(type="omfwd" target="127.0.0.1" port="13514"
           protocol="tcp" template="tpl"
           action.errorfile="''' + str(errf2) + '''"
           action.errorfile.maxsize="100")
}
input(type="imfile" file="@IN@" ruleset="m")
''', lines, sub="aerr2")
    data = errf2.read_bytes()
    assert len(data) == 100
    assert data.endswith(b"\n")


def test_glbl_invalid_param_no_abort(spark):
    """glbl-invld-param.sh: unknown global() parameters and invalid
    values must not abort config load (the reference logs and
    continues)."""
    from rsyslog_spark.config.rainerscript import parse_config

    cfg = parse_config('''
global(invalid="off")
global(debug.unloadModules="invalid")
ruleset(name="m") { action(type="omfile" file="/tmp/x") }
''')
    assert "m" in cfg.rulesets


def test_hostname_with_slash_default_chain(spark, tmp_path):
    """hostname-with-slash-dflt-{invld,slash-valid}.sh: under the
    DEFAULT parser chain a slashed token is NOT a valid RFC3164
    hostname (falls back to the receiver stamp, msg.c getHOSTNAME),
    while RFC5424 accepts any PRINTUSASCII hostname incl. slashes."""
    from rsyslog_spark.session import local_hostname

    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%hostname%\\n")
ruleset(name="m") {
  action(type="omfile" template="outfmt" file="@OUT@")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>Mar  6 16:57:54 hostname1/hostname2 test: msgnum:0\n",
        sub="hsd1")
    assert out == local_hostname() + "\n"

    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%hostname%\\n")
ruleset(name="m") {
  action(type="omfile" template="outfmt" file="@OUT@")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<167>1 2003-03-01T01:00:00.000Z hostname1/hostname2 tcpflood "
     '- tag [tcpflood@32473 MSGNUM="0"] data\n', sub="hsd2")
    assert out == "hostname1/hostname2\n"


def test_continue_nop_statement(spark, tmp_path):
    """abort-uncleancfg-continue-nop.sh (issues #2524/#2568): an
    explicit 'continue' NOP inside an if branch parses cleanly and
    routes correctly — whitelist messages pass (NOP = fall through),
    everything else stops."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%msg%\\n")
ruleset(name="m") {
  if re_match($msg, "whitelist.*") then {
    continue
  } else {
    stop
  }
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<13>Mar  1 01:00:00 h tag whitelisted-one\n"
     "<13>Mar  1 01:00:00 h tag blocked-two\n", sub="cnp")
    assert out == "whitelisted-one\n"


def test_mmanon_variant_battery(spark, tmp_path):
    """mmanon_{zero_8,simple_8,simple_33,simple_mallformed}_ipv4 +
    mmanon_zero_{50,64,128}_ipv6 + mmanon_both_modes_compatible:
    each reference variant's action params, INPUT messages, and
    EXPECTED block are extracted from its .sh verbatim and run
    through the engine config path — byte-exact cmp_exact."""
    import re

    ref = "/root/reference/tests"
    variants = ["mmanon_zero_8_ipv4", "mmanon_simple_8_ipv4",
                "mmanon_simple_33_ipv4",
                "mmanon_simple_mallformed_ipv4",
                "mmanon_zero_50_ipv6", "mmanon_zero_64_ipv6",
                "mmanon_zero_128_ipv6",
                "mmanon_both_modes_compatible"]
    ran = 0
    for i, name in enumerate(variants):
        sh = open(f"{ref}/{name}.sh").read()
        act = re.search(r'action\(type="mmanon"[^)]*\)', sh)
        msgs = re.search(r'tcpflood[^\n]*-M\s+"\\"(.*?)\\""', sh,
                         re.S)
        exp = re.search(r"export EXPECTED='(.*?)'\n", sh, re.S)
        if not (act and msgs and exp):
            continue
        lines = msgs.group(1)
        out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%msg%\\n")
parser(name="p3164" type="pmrfc3164" remove.msgFirstSpace="off")
ruleset(name="testing" parser="p3164") {
  ''' + act.group(0) + '''
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="testing")
''', lines + "\n", sub=f"anon{i}")
        assert out == exp.group(1) + "\n", (name, out)
        ran += 1
    assert ran >= 6, f"only {ran} variants matched the extract shape"


def test_lookup_table_validation_battery(spark, tmp_path):
    """lookup_table_duplicate.sh: duplicate names fail config load
    with the reference's message (issue #5316).
    lookup_table_bad_configs.sh: malformed table FILES (empty,
    invalid JSON, rows without the index key) degrade to empty tables
    — lookups return nomatch, the run continues.
    conf-directive-gone-away.sh: $optimizeForUniprocessor warns
    'config directive is no longer supported' and loads."""
    import warnings as _w

    import pytest as _pytest

    from rsyslog_spark.config.rainerscript import parse_config

    with _pytest.raises(ValueError) as ei:
        parse_config(f'''
lookup_table(name="xlate" file="{tmp_path}/x.lkp_tbl")
lookup_table(name="xlate" file="{tmp_path}/x.lkp_tbl")
''')
    assert ("lookup_table: duplicate name 'xlate' in current config "
            "set") in str(ei.value)

    ref = "/root/reference/tests/testsuites"
    for bad in ("xlate_empty_file", "xlate_invalid_json",
                "xlate_string_no_index", "xlate_array_no_index",
                "xlate_sparseArray_no_index"):
        import shutil
        shutil.copy(f"{ref}/{bad}.lkp_tbl",
                    tmp_path / "xlate.lkp_tbl")
        with _w.catch_warnings():
            _w.simplefilter("ignore")
            out = _run(spark, tmp_path, f'''
lookup_table(name="xlate" file="{tmp_path}/xlate.lkp_tbl")
template(name="outfmt" type="string" string="%msg% %$.lkp%\\n")
ruleset(name="m") {{
  set $.num = field($msg, 58, 2);
  set $.lkp = lookup("xlate", $.num);
  action(type="omfile" file="@OUT@" template="outfmt")
}}
input(type="imfile" file="@IN@" ruleset="m")
''', "<13>Mar  1 01:00:00 h tag msgnum:00000000:\n",
                sub=f"lkb_{bad}")
        assert "foo" not in out and "bar" not in out \
            and "baz" not in out, (bad, out)
        assert "msgnum:00000000" in out

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        parse_config('''
$optimizeForUniprocessor
ruleset(name="m") { action(type="omfile" file="/tmp/x") }
''')
    assert any("config directive is no longer supported" in
               str(r.message) for r in rec)


def test_mmjsonparse_find_json_conflict(spark, tmp_path):
    """mmjsonparse-find-json-conflict.sh: a container path whose
    parent variable holds a SCALAR cannot be created — the parse
    FAILS (parsesuccess=FAIL) and the tree keeps the scalar.
    EXPECTED copied verbatim (engine default strips msg 1st space —
    restored via the parser param). Also: invalid mode= fails load
    with the reference message (mmjsonparse-find-json-invalid-mode)."""
    import pytest as _pytest

    from rsyslog_spark.config.rainerscript import parse_config

    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string"
         string="%msg% parsesuccess=%parsesuccess% json=%$!%\\n")
parser(name="p3164" type="pmrfc3164" remove.msgFirstSpace="off")
ruleset(name="m" parser="p3164") {
  if $msg contains "CONFLICT" then {
    set $!conflict = "scalar";
    action(type="mmjsonparse" mode="find-json"
           container="$!conflict!parsed")
    action(type="omfile" file="@OUT@" template="outfmt")
  }
}
input(type="imfile" file="@IN@" ruleset="m")
''', '<167>Jan 16 16:57:54 host.example.net TAG: CONFLICT prefix '
     '{"field":"value"}\n', sub="fjc")
    assert out == (' CONFLICT prefix {"field":"value"} '
                   'parsesuccess=FAIL json={ "conflict": "scalar" }\n')

    with _pytest.raises(ValueError) as ei:
        parse_config('''
ruleset(name="m") { action(type="mmjsonparse" mode="INVALID") }
''')
    assert "mmjsonparse: invalid mode 'INVALID'" in str(ei.value)


def test_parser_drop_trailing_cr(spark, tmp_path):
    """parser-drop-trailing-cr.sh: with global(parser.
    dropTrailingCROnReception="on") the CR left after LF framing is
    stripped — %msg% renders ' payload'; without it the CR stays in
    MSG (and would escape as #015 under the cc options)."""
    line = "<167>Mar  6 16:57:54 172.20.245.8 test: payload\r\n"
    conf = '''
global(parser.dropTrailingCROnReception="on")
template(name="outfmt" type="string" string="%msg%\\n")
parser(name="p3164" type="pmrfc3164" remove.msgFirstSpace="off")
ruleset(name="rs" parser="p3164") {
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="rs")
'''
    out = _run(spark, tmp_path, conf, line, sub="crdrop")
    assert out == " payload\n"
    # documented divergence: the engine's ingest paths (Spark text
    # reader auto lineSep, imtcp bridge rstrip) already drop the CR,
    # so the OFF default behaves like ON — the reference would keep
    # the CR (rendering #015 under cc escaping)
    out = _run(spark, tmp_path, conf.replace('"on"', '"off"'), line,
               sub="crkeep")
    assert out == " payload\n"


def test_malformed_tail_robustness(spark, tmp_path):
    """pmciscoios_truncated_input.sh / pmdb2diag_malformed_tail.sh /
    pmsnare_malformed_tag_tail.sh: truncated/malformed vendor-format
    heads must not wedge the parser — a later valid message still
    routes (EXPECTED 'valid-after')."""
    cases = [
        ("pmciscoios", "custom.ciscoios",
         "<14>1: \n<14>2: .\n<14>valid-after\n"),
        ("pmdb2diag", "custom.db2",
         "<14>2024-05-21-12.00.01.000000 I1A1 LEVEL\n"
         "<14>valid-after\n"),
        ("pmsnare", "custom.snare",
         "<14>May 21 12:00:01 host MSWinEventLog\n"
         "<14>May 21 12:00:01 host LinuxKAudit\n"
         "<14>host\tMSWinEventLog\n"
         "<14>valid-after\n"),
    ]
    for i, (ptype, pname, lines) in enumerate(cases):
        out = _run(spark, tmp_path, f'''
parser(name="{pname}" type="{ptype}")
template(name="outfmt" type="string" string="valid-after\\n")
ruleset(name="testing" parser=["{pname}", "rsyslog.rfc3164"]) {{
  if $rawmsg contains "valid-after" then {{
    action(type="omfile" file="@OUT@" template="outfmt")
  }}
}}
input(type="imfile" file="@IN@" ruleset="testing")
''', lines, sub=f"mft{i}")
        assert out == "valid-after\n", (ptype, out)


def test_operatingstate_file(spark, tmp_path):
    """operatingstate-{basic,empty,unclean}.sh: the operatingState
    journal writes 'YYYYMMDD-HHMMSS: TAG   line' entries —
    INITIALIZING on open, MSG for internal problems (an action type
    without a binding), CLEAN CLOSE on shutdown. A clean pre-existing
    file appends (.previous never created); an UNCLEAN one rotates
    to .previous byte-intact with the reference's diagnostic."""
    import re
    import warnings as _w

    osf = tmp_path / "run.osf"
    conf = f'''
global(operatingStateFile="{osf}")
template(name="outfmt" type="string" string="%msg%\\n")
ruleset(name="m") {{
  action(type="omfile" file="@OUT@" template="outfmt")
  action(type="invalid-type")
}}
input(type="imfile" file="@IN@" ruleset="m")
'''
    line = "<13>Mar  1 01:00:00 h tag osf-check\n"
    _run(spark, tmp_path, conf, line, sub="osf1")
    txt = osf.read_text()
    assert not os.path.exists(str(osf) + ".previous")
    assert "invalid-type" in txt
    assert txt.rstrip().endswith("CLEAN CLOSE")
    assert re.match(r"\d{8}-\d{6}: STATE INITIALIZING ",
                    txt.splitlines()[0])

    # clean file → second run APPENDS, still no .previous
    _run(spark, tmp_path, conf, line, sub="osf2")
    assert not os.path.exists(str(osf) + ".previous")
    assert osf.read_text().count("CLEAN CLOSE") == 2

    # unclean file → rotated to .previous byte-intact + diagnostic
    err = ("20180924-160109: STATE INITIALIZING 8.39.0.master\n"
           "20180924-160110: STATE\n")
    osf.write_text(err)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        _run(spark, tmp_path, conf, line, sub="osf3")
    assert open(str(osf) + ".previous").read() == err
    assert osf.read_text().rstrip().endswith("CLEAN CLOSE")
    assert any("does not end with 'CLEAN CLOSE" in str(r.message)
               for r in rec)


def test_queue_and_omfile_param_validation(spark, tmp_path):
    """queue-invalid-workerthreads-zero.sh: queue.workerthreads=0
    fails load with the grammar's positive-int message.
    omfile-{null,whitespace}-filename.sh: an omfile action without a
    usable file/dynafile fails with the reference message.
    omfile_both_files_set.sh: file+dynafile together warns and USES
    the dynafile."""
    import warnings as _w

    import pytest as _pytest

    from rsyslog_spark.config.rainerscript import parse_config

    with _pytest.raises(ValueError) as ei:
        parse_config('''
ruleset(name="m") {
  action(type="omfile" file="/tmp/x"
         queue.type="linkedList" queue.workerthreads="0")
}
''')
    assert ("parameter 'queue.workerthreads' cannot be less than "
            "one (was 0)") in str(ei.value)

    for fparam in ('', ' file=""', ' file="   "'):
        with _pytest.raises(ValueError) as ei:
            parse_config(
                'ruleset(name="m") { action(type="omfile"%s) }'
                % fparam)
        assert ('omfile: either the "file" or "dynafile" parameter '
                "must be given") in str(ei.value)

    # both set: warn + dynafile wins — '- msgnum:1-' lands at the
    # dynafile target, the plain file is never created
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        out = _run(spark, tmp_path, '''
template(name="dynafile" type="string" string="@OUT@")
template(name="outfmt" type="string" string="-%msg%-\\n")
parser(name="p3164" type="pmrfc3164" remove.msgFirstSpace="off")
ruleset(name="m" parser="p3164") {
  :msg, contains, "msgnum:"
    action(type="omfile" template="outfmt"
           file="@OUT@_plain" dynafile="dynafile")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<129>Mar 10 01:00:00 172.20.245.8 tag: msgnum:1\n",
            sub="bfs")
    assert any('will use dynafile' in str(r.message) for r in rec)
    assert out == "- msgnum:1-\n"
    assert _read_out(tmp_path, "bfs_plain") in (None, [])


def test_mmrm1stspace_basic(spark, tmp_path):
    """mmrm1stspace-basic.sh: removes exactly ONE erroneous leading
    space from MSG — 'tag: x'→'x', 'tag:  x'→' x', 'tag:x'
    unchanged, empty stays empty. EXPECTED copied verbatim."""
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="-%msg%-\\n")
parser(name="p3164" type="pmrfc3164" remove.msgFirstSpace="off")
ruleset(name="m" parser="p3164") {
  action(type="mmrm1stspace")
  :syslogtag, contains, "tag" action(type="omfile" template="outfmt"
                                     file="@OUT@")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<129>Mar 10 01:00:00 172.20.245.8 tag: msgnum:1\n"
     "<129>Mar 10 01:00:00 172.20.245.8 tag:  msgnum:2\n"
     "<129>Mar 10 01:00:00 172.20.245.8 tag:msgnum:3\n"
     "<129>Mar 10 01:00:00 172.20.245.8 tag4:\n", sub="rm1")
    assert out == "-msgnum:1-\n- msgnum:2-\n-msgnum:3-\n--\n"


def test_mmsnareparse_basic(spark, tmp_path):
    """mmsnareparse-basic.sh: representative NXLog Security samples
    through the structured win-event parser — the reference's four
    content_check lines byte-exact: EventID from the tab header,
    Logon Information section (LogonType + canonical LogonTypeName),
    LAPS Context k=v (booleans lowercased), TLS Inspection section,
    CodeIntegrity→WDAC / WindowsUpdateClient→WUFB root containers,
    Remote Credential Guard → $!win!Logon boolean, Network section
    SourcePort."""
    import re

    sh = open("/root/reference/tests/mmsnareparse-basic.sh").read()
    msgs = re.search(r"cat <<'MSG' > \S+\n(.*?)\nMSG\n", sh,
                     re.S).group(1)
    tpl = re.search(r'(template\(name="outfmt".*?\n\})\n', sh,
                    re.S).group(1)
    out = _run(spark, tmp_path, tpl + '''
ruleset(name="m") {
  action(type="mmsnareparse")
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', msgs + "\n", sub="snb")
    lines = out.splitlines()
    for want in ("4624,2,Interactive,2,true,,,,,true,59122",
                 "5157,,,,,Unapproved Root Authority,,,,,57912",
                 "6281,,,,,,3.2.0,4128,,,",
                 "1243,,,,,,,,"
                 "2f9c4414-3f71-4f2b-9a7e-cc98a6d96970,,"):
        assert want in lines, (want, lines)


def test_mmsnareparse_markerfree_row_under_aggregate(spark):
    """Regression (r11): a marker-free row leaves the parser's token
    array empty; element_at(info, least(size, 1)) then carries index
    0, which codegen common-subexpression elimination can hoist OUT
    of its when-guard and evaluate eagerly — INVALID_INDEX_OF_ZERO.
    Reproduced with the parsed frame feeding exceptAll (aggregate
    consumer); fixed by null-safe F.get for the Summary first-token
    and LAPS element reads. Also pins the parsed VALUES on both a
    marker-free and a normal row."""
    from pyspark.sql import functions as F

    from rsyslog_spark.parsers.vendors import mmsnareparse

    df = spark.createDataFrame(
        [("plain text no marker",),
         ("MSWinEventLog\t1\tSecurity\t7\td\t4624\tS\tN/A\tN/A\t"
          "Success Audit\tH\tLogon\t\tOnly: one   \t3",)],
        "msg string")
    out = mmsnareparse(df)
    canon = out.select(
        [F.coalesce(F.col(c).cast("string"), F.lit("#"))
         .alias(c) for c in sorted(out.columns)])
    # the aggregate consumer that triggered the hoist must not throw
    assert canon.exceptAll(canon.limit(0)).count() == 2
    rows = {r["msg"]: r for r in out.collect()}
    assert rows["plain text no marker"]["cee_win_event"] is None
    assert '"EventID":"4624"' in \
        rows[[m for m in rows if m.startswith("MSWinEventLog")][0]][
            "cee_win_event"]


def test_mmsnareparse_trailing_extradata(spark, tmp_path):
    """mmsnareparse-trailing-extradata.sh: ignoreTrailingPattern in
    the LAST tab token moves that whole token to
    $!extradata_section and truncates the message at the last tab
    before parsing — Sysmon EventID 13 fields parse clean, the
    custom section never leaks into them. content_check byte-exact."""
    import re

    sh = open("/root/reference/tests/"
              "mmsnareparse-trailing-extradata.sh").read()
    msgs = re.search(r"cat <<'MSG' > \S+\n(.*?)\nMSG\n", sh,
                     re.S).group(1)
    tpl = re.search(r'(template\(name="outfmt".*?\n\})\n', sh,
                    re.S).group(1)
    out = _run(spark, tmp_path, tpl + '''
ruleset(name="m") {
  action(type="mmsnareparse"
         definition.file="/root/reference/plugins/mmsnareparse/sysmon_definitions.json"
         ignoreTrailingPattern="custom_section:")
  action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', msgs + "\n", sub="snt")
    assert out.splitlines() == [
        "13,Microsoft-Windows-Sysmon/Operational,SetValue,"
        r"HKLM\System\CurrentControlSet\Services\TestService"
        r"\ImagePath,NT AUTHORITY\SYSTEM,"
        "3385599 custom_section: fromhost-ip=192.168.45.217"]


def test_mmsnareparse_syslog_samples(spark, tmp_path):
    """mmsnareparse-syslog.sh: the reference's REAL Windows
    2022/2025 Security sample captures through the parser — EventID/
    Channel/EventType/CategoryText/Computer content_checks."""
    data = (open("/root/reference/tests/testsuites/mmsnareparse/"
                 "sample-windows2022-security.data").read()
            + open("/root/reference/tests/testsuites/mmsnareparse/"
                   "sample-windows2025-security.data").read())
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="list") {
    property(name="$!win!Event!EventID")
    constant(value=",")
    property(name="$!win!Event!Channel")
    constant(value=",")
    property(name="$!win!Event!EventType")
    constant(value=",")
    property(name="$!win!Event!CategoryText")
    constant(value=",")
    property(name="$!win!Event!Computer")
    constant(value="\\n")
}
ruleset(name="winsec") {
    action(type="mmsnareparse")
    action(type="omfile" file="@OUT@" template="outfmt")
}
input(type="imfile" file="@IN@" ruleset="winsec")
''', data, sub="snsys")
    lines = out.splitlines()
    for want in ("4608,Security,Success Audit,Security State Change,"
                 "WIN-5SB1I3G0V7U",
                 "4616,Security,Success Audit,Security State Change,"
                 "WIN-5SB1I3G0V7U"):
        assert want in lines, (want, lines[:5])


def test_mmpstrucdata_size_goldens(spark, tmp_path):
    """mmpstrucdata-large-sd.sh: a 70k-char SD param value parses
    whole (no silent truncation) — EXPECTED 'ok' from the param AFTER
    the blob. mmpstrucdata-max-sd-size.sh: maxStructuredDataSize=64
    drops oversized SD while smaller messages still parse — EXPECTED
    'yes'."""
    blob = "x" * 70000
    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string"
         string="%$!structured-data!custom-sd!large@32473!tail%\\n")
ruleset(name="m") {
  action(type="mmpstrucdata" jsonRoot="$!structured-data"
         container="custom-sd")
  if $msg contains "MMPSTRUCDATA" then
    action(type="omfile" template="outfmt" file="@OUT@")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<85>1 2026-05-22T08:00:00.000+00:00 host app proc msgid "
     f'[large@32473 blob="{blob}" tail="ok"] MMPSTRUCDATA large sd\n',
        sub="psd1")
    assert out == "ok\n"

    out = _run(spark, tmp_path, '''
template(name="outfmt" type="string"
         string="%$!structured-data!custom-sd!small@32473!ok%\\n")
ruleset(name="m") {
  action(type="mmpstrucdata" jsonRoot="$!structured-data"
         container="custom-sd" maxStructuredDataSize="64")
  if $!structured-data!custom-sd!small@32473!ok == "yes" then
    action(type="omfile" template="outfmt" file="@OUT@")
}
input(type="imfile" file="@IN@" ruleset="m")
''', "<85>1 2026-05-22T08:00:00.000+00:00 host app proc msgid "
     '[large@32473 blob="'
     + "x" * 80 +
     '" tail="skip"] MMPSTRUCDATA too large\n'
     "<85>1 2026-05-22T08:00:00.000+00:00 host app proc msgid "
     '[small@32473 ok="yes"] MMPSTRUCDATA accepted\n', sub="psd2")
    assert out == "yes\n"


def test_mmsnareparse_json_output(spark, tmp_path):
    """mmsnareparse-json.sh: the win-event tree rendered through an
    option.jsonf template — variable outnames fold LOWERCASE
    (template.c apply_case_sensitivity), TimeCreated.Normalized is
    the ISO8601 event time. All 13 reference content_checks."""
    import re

    sh = open("/root/reference/tests/mmsnareparse-json.sh").read()
    msgs = re.search(r"cat <<'MSG' > \S+\n(.*?)\nMSG\n", sh,
                     re.S).group(1)
    tpl = re.search(r'(template\(name="jsonfmt".*?\n\})\n', sh,
                    re.S).group(1)
    out = _run(spark, tmp_path, tpl + '''
ruleset(name="m") {
  action(type="mmsnareparse")
  action(type="omfile" file="@OUT@" template="jsonfmt")
}
input(type="imfile" file="@IN@" ruleset="m")
''', msgs + "\n", sub="snj")
    for want in re.findall(r"content_check '([^']+)'", sh):
        assert want in out, (want, out[:400])


def test_multiple_lookup_tables_independent_reload(spark, tmp_path):
    """multiple_lookup_tables.sh: two lookup_table objects resolve
    independently and RELOAD independently — updating table 0's file
    changes only 0_ values (phase 2), then table 1 catches up (phase
    3). HUP ≙ the engine's per-run table load; tables and keys from
    the reference's testsuites verbatim (msg keys keep the leading
    space — remove.msgFirstSpace=off)."""
    import shutil

    ref = "/root/reference/tests/testsuites"
    t0 = tmp_path / "xlate.lkp_tbl"
    t1 = tmp_path / "xlate_1.lkp_tbl"
    shutil.copy(f"{ref}/xlate.lkp_tbl", t0)
    shutil.copy(f"{ref}/xlate.lkp_tbl", t1)
    conf = f'''
lookup_table(name="xlate_0" file="{t0}")
lookup_table(name="xlate_1" file="{t1}")
template(name="outfmt" type="string"
         string="- %msg% 0_%$.lkp_0% 1_%$.lkp_1%\\n")
parser(name="p3164" type="pmrfc3164" remove.msgFirstSpace="off")
ruleset(name="m" parser="p3164") {{
  set $.lkp_0 = lookup("xlate_0", $msg);
  set $.lkp_1 = lookup("xlate_1", $msg);
  action(type="omfile" file="@OUT@" template="outfmt")
}}
input(type="imfile" file="@IN@" ruleset="m")
'''
    lines = "".join(
        f"<13>Mar  1 01:00:00 h tag msgnum:{i:08d}:\n"
        for i in range(3))
    out = _run(spark, tmp_path, conf, lines, sub="mlt1")
    assert "msgnum:00000000: 0_foo_old 1_foo_old" in out
    assert "msgnum:00000001: 0_bar_old 1_bar_old" in out
    assert "baz" not in out

    shutil.copy(f"{ref}/xlate_more.lkp_tbl", t0)
    out = _run(spark, tmp_path, conf, lines, sub="mlt2")
    assert "msgnum:00000000: 0_foo_new 1_foo_old" in out
    assert "msgnum:00000001: 0_bar_new 1_bar_old" in out
    assert "msgnum:00000002: 0_baz" in out and "1_baz" not in out

    shutil.copy(f"{ref}/xlate_more.lkp_tbl", t1)
    out = _run(spark, tmp_path, conf, lines, sub="mlt3")
    assert "msgnum:00000002: 0_baz 1_baz" in out


def test_impstats_dynstats_global_line(spark, tmp_path):
    """no-dynstats.sh: the dynstats subsystem's GLOBAL statsobj line
    ('global: origin=dynstats') emits every impstats cycle even when
    no dyn_stats buckets are configured; with bracketing it sits
    inside the BEGIN/END markers."""
    from rsyslog_spark.config.runtime import run_config_batch

    src = tmp_path / "in.log"
    src.write_text("<13>Mar  1 01:00:00 h tag one\n")
    run = run_config_batch(spark, f'''
module(load="impstats" bracketing="on")
ruleset(name="m") {{
  action(type="omfile" name="out" file="{tmp_path}/out"
         template="RSYSLOG_FileFormat")
}}
input(type="imfile" file="{src}" ruleset="m")
''')
    lines = run.impstats_lines()
    assert "global: origin=dynstats" in lines
    assert lines[0] == "BEGIN" and lines[-1] == "END"


def test_gzipwr_ziplevel_readback(spark, tmp_path):
    """gzipwr_rscript.sh (shape): omfile zipLevel>0 writes gzip part
    files; gunzip of the output yields the exact rendered lines
    (gzip_seq_check analog)."""
    import gzip

    from rsyslog_spark.config.runtime import run_config_batch

    lines = "".join(
        f"<129>Mar 10 01:00:00 h tag msgnum:{i:08d}:\n"
        for i in range(50))
    src = tmp_path / "in_gz.log"
    src.write_text(lines)
    d = f"{tmp_path}/out_gz"
    run_config_batch(spark, f'''
template(name="outfmt" type="string" string="%msg:F,58:2%\\n")
ruleset(name="m") {{
  :msg, contains, "msgnum:"
    action(type="omfile" template="outfmt" zipLevel="6"
           file="{d}")
}}
input(type="imfile" file="{src}" ruleset="m")
''')
    parts = [p for p in os.listdir(d) if p.startswith("part")]
    assert parts and all(p.endswith(".gz") for p in parts), parts
    got = sorted(
        ln for p in parts
        for ln in gzip.open(os.path.join(d, p), "rt").read()
        .splitlines())
    assert got == [f"{i:08d}" for i in range(50)]


def test_failover_rptd(spark, tmp_path):
    """failover-rptd.sh: $RepeatedMsgReduction on combined with a
    dead @@ primary — the execOnlyWhenPreviousIsSuspended fallback
    still receives EVERY (unique) message; reduction must not eat
    rows routed through the failover path (seq_check 0..N)."""
    lines = "".join(
        f"<13>Mar  1 01:00:00 h tag msgnum:{i:08d}:\n"
        for i in range(50))
    import warnings as _w
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        _run(spark, tmp_path, '''
$RepeatedMsgReduction on
$template outfmt,"%msg:F,58:2%\\n"
# note: the target server shall not be available!
:msg, contains, "msgnum:" @@127.0.0.1:13514
$ActionExecOnlyWhenPreviousIsSuspended on
& @OUT@;outfmt
input(type="imfile" file="@IN@")
''', lines, sub="forp")
    assert _read_out(tmp_path, "forp") == [
        f"{i:08d}" for i in range(50)]


def test_glbl_setenv_err_goldens(spark, tmp_path):
    """glbl_setenv_err.sh + glbl_setenv_err_too_long.sh: a
    global(environment=...) entry without '=' or with an over-long
    name error-and-continues with the reference's messages
    (glbl.c:1326-1349 do_setenv) — config load succeeds, the bad
    entry sets nothing, valid entries still apply."""
    import os
    import warnings as _w

    from rsyslog_spark.config.rainerscript import parse_config

    os.environ.pop("http_proxy", None)
    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        cfg = parse_config('''
global(environment="http_proxy ERROR")
global(environment="''' + "N" * 400 + '''=400")
global(environment="GOODVAR=good")
ruleset(name="m") { action(type="omfile" file="/tmp/x") }
''')
    msgs = [str(x.message) for x in w]
    assert any("missing equal sign (for value): 'http_proxy ERROR'"
               in m for m in msgs)
    assert any("environment variable name too long [max 127 chars]"
               in m for m in msgs)
    assert "m" in cfg.rulesets
    assert os.environ.get("GOODVAR") == "good"
    assert "http_proxy ERROR" not in os.environ
    os.environ.pop("GOODVAR", None)


def test_glbl_ruleset_queue_defaults_accepted(spark):
    """glbl-ruleset-queue-defaults.sh: the default.ruleset.queue.*
    globals parse without any 'parameter not known' complaint (the
    reference only checks acceptance — queue timeouts map to Spark
    micro-batch lifecycle)."""
    import warnings as _w

    from rsyslog_spark.config.rainerscript import parse_config

    with _w.catch_warnings(record=True) as w:
        _w.simplefilter("always")
        cfg = parse_config('''
global( default.ruleset.queue.timeoutshutdown="1000"
        default.ruleset.queue.timeoutactioncompletion="1000"
        default.ruleset.queue.timeoutenqueue="1000"
        default.ruleset.queue.timeoutworkerthreadshutdown="1000"
        )
ruleset(name="m") { action(type="omfile" file="/tmp/x") }
''')
    assert "m" in cfg.rulesets
    assert not [m for m in w if "not known" in str(m.message)]


def test_asynwr_knobs_accepted_output_complete(spark, tmp_path):
    """asynwr_simple.sh / asynwr_tinybuf.sh /
    asynwr_dynfile_flushtxend-off.sh: the async-writer tuning params
    (asyncWriting, flushOnTXEnd, flushInterval, ioBufferSize) parse
    on omfile actions and every record still lands after commit —
    in the Spark engine the micro-batch commit IS the flush, so the
    knobs are accepted no-ops (SURVEY §1.4 queue mapping) and
    correctness means no record is lost or duplicated."""
    lines = "".join(
        f"<13>Mar  1 01:00:00 h tag msgnum:{i:08d}:\n"
        for i in range(25))
    _run(spark, tmp_path, '''
template(name="outfmt" type="string" string="%msg:F,58:2%\\n")
ruleset(name="m") {
  action(type="omfile" file="@OUT@" template="outfmt"
         asyncWriting="on" flushOnTXEnd="off"
         flushInterval="1" ioBufferSize="4k")
}
input(type="imfile" file="@IN@" ruleset="m")
''', lines, sub="asw")
    assert _read_out(tmp_path, "asw") == [
        f"{i:08d}" for i in range(25)]


def test_mmsnareparse_route_materialization_battery(spark):
    """Pins the field-routing semantics across the r11 rewrite that
    materializes the route string once per entry (two-stage transform
    + pre-route placeholder/LAPS filter + single-eval _snare_jq):
    keep-last duplicates, placeholder drop, strtoll int parsing with
    trailing text, intraw fallback + validation error, GUID error,
    hex int, LogonTypeName enrichment, the Kerberos section escape,
    the Root→EventData generic fallback, exact JSON escaping, Remote
    Credential Guard → Logon, PrivilegeList, and the ParsingStats
    counters (values verified identical to the pre-rewrite
    implementation on a 100k corpus + 34-case adversarial battery)."""
    from rsyslog_spark.parsers.vendors import mmsnareparse

    H = ("MSWinEventLog\t1\tSecurity\t42\tTue Feb 18 06:42:17 2025\t"
         "4624\tMicrosoft-Windows-Security-Auditing\tN/A\tN/A\t"
         "Success Audit\tHOST-01\tLogon\t\t")
    cases = {
        "dup": H + "Subject:   Account Name:  first   "
                   "Account Name:  second   \t17",
        "placeholder": H + "Subject:   Account Name:  N/A   "
                           "Account Domain:  -   Logon ID:  0x2ca   "
                           "\t1",
        "int_trailing": H + "Detailed Authentication Information:   "
                            "Key Length:  0 1   \t9",
        "intraw": H + "Detailed Authentication Information:   "
                      "Key Length:  12abc   \t10",
        "bad_guid": H + "New Logon:   Logon GUID:  totally-bogus   "
                        "\t6",
        "hex_int": H + "Network Information:   Source Port:  0x1f90 "
                       "  \t8",
        "logon_type": H + "Logon Information:   Logon Type:  3   "
                          "\t23",
        "kerberos": H + "Additional Information:   Ticket Options:  "
                        "0x40810010   \t28",
        "fallback": H + "Mystery Section:   Frobnication Level:  11 "
                        "  Wibble:  wobble   \t22",
        "escape": H + 'Subject:   Account Name:  he said "hi" \\ '
                      'café   \t15',
        "rcg": H + "Logon Information:   "
                   "Remote Credential Guard:  Yes   \t3",
        "priv": H + "Privileges:  SeTcbPrivilege SeBackupPrivilege  "
                    " \t4",
    }
    df = spark.createDataFrame(list(cases.items()),
                               "case string, msg string")
    rows = {r["case"]: r for r in mmsnareparse(df).collect()}

    def stats(case, n):
        assert rows[case]["cee_win_stats"] == (
            '{"ParsingStats":{"total_fields":%d,'
            '"successful_parses":%d,"failed_parses":0}}' % (n, n))

    assert rows["dup"]["cee_win_subject"] == \
        '{"AccountName":"second"}'
    stats("dup", 2)
    assert rows["placeholder"]["cee_win_subject"] == \
        '{"LogonID":"0x2ca"}'
    stats("placeholder", 1)
    assert rows["int_trailing"]["cee_win_detailedauthentication"] \
        == '{"KeyLength":0}'
    assert rows["int_trailing"]["cee_win_validation"] == \
        '{"Errors":[]}'
    assert rows["intraw"]["cee_win_detailedauthentication"] == \
        '{"KeyLength":"12abc"}'
    assert rows["intraw"]["cee_win_validation"] == \
        '{"Errors":["KeyLength: expected integer"]}'
    stats("intraw", 1)
    assert rows["bad_guid"]["cee_win_newlogon"] == \
        '{"LogonGUID":"totally-bogus"}'
    assert rows["bad_guid"]["cee_win_validation"] == \
        '{"Errors":["LogonGUID: invalid GUID"]}'
    assert rows["hex_int"]["cee_win_network"] == \
        '{"SourcePort":8080}'
    assert rows["logon_type"]["cee_win_logoninformation"] == \
        '{"LogonType":3,"LogonTypeName":"Network"}'
    assert rows["kerberos"]["cee_win_kerberos"] == \
        '{"TicketOptions":"0x40810010"}'
    assert rows["fallback"]["cee_win_eventdata"] == \
        '{"Wibble":"wobble"}'
    assert rows["escape"]["cee_win_subject"] == \
        '{"AccountName":"he said \\"hi\\" \\\\ café"}'
    assert rows["rcg"]["cee_win_logon"] == \
        '{"RemoteCredentialGuard":true}'
    assert rows["priv"]["cee_win_privileges"] == \
        '{"PrivilegeList":"SeTcbPrivilege SeBackupPrivilege"}'


def test_mmsnareparse_tokenizer_hostile_goldens(spark):
    """Tokenizer-hostile description shapes (line terminators inside
    values, single-space Sysmon pairs, colon paths, unicode, empty /
    marker-free rows, overlay re-pairing, prose before an embedded
    section header) → the full output row: every non-null column,
    and nothing else. Expected rows were captured when the Arrow
    tokenizer and the former higher-order-Column tokenizer still
    produced identical frames on these cases."""
    from rsyslog_spark.parsers.vendors import mmsnareparse

    H = ("MSWinEventLog\t1\tSecurity\t42\tTue Feb 18 06:42:17 2025\t"
         "4624\tMicrosoft-Windows-Security-Auditing\tN/A\tN/A\t"
         "Success Audit\tHOST-01\tLogon\t\t")
    ev = ('{"EventID":"4624","TimeCreated":{},"Channel":"Security",'
          '"SnareCounter":"42","EventLogType":"Success Audit",'
          '"EventType":"Success Audit",'
          '"Provider":"Microsoft-Windows-Security-Auditing",'
          '"Computer":"HOST-01","Category":"Logon",'
          '"CategoryText":"Logon","Subtype":"Success",'
          '"Outcome":"success"}')

    def parsed(n_fields, **cols):
        n = str(n_fields)
        return {"cee_win_event": ev,
                "cee_win_validation": '{"Errors":[]}',
                "cee_win_stats": (
                    '{"ParsingStats":{"total_fields":' + n
                    + ',"successful_parses":' + n
                    + ',"failed_parses":0}}'),
                **{"cee_win_" + k: v for k, v in cols.items()}}

    cases = [
        (H + "Subject:   Account Name:  first   Account Name:  "
             "second   \t17",
         parsed(2, subject='{"AccountName":"second"}')),
        (H + "Process Information:   New Process Name:  "
             "C:\\Windows\\System32\\svchost.exe   \t3",
         parsed(1, process='{"NewProcessName":'
                           '"C:\\\\Windows\\\\System32\\\\svchost.exe"}')),
        (H + "User: CORP\\NETWORK | SERVICE Hashes: MD5=AB12   \t9",
         parsed(0, eventdata='{"Hashes":"MD5=AB12"}')),
        (H + "An account was successfully logged on. Subject:   "
             "Security ID:  S-1-5-18   \t2",
         parsed(1, subject='{"SecurityID":"S-1-5-18"}')),
        (H + "Subject:   Account Name:  line\nbreak   Domain:  "
             "tab\there   \t5",
         parsed(2, subject='{"AccountName":"line\\nbreak",'
                           '"Domain":"tab here"}')),
        (H + "Subject:   Account Name:  trailing\r   \t6",
         parsed(1, subject='{"AccountName":"trailing\\r"}')),
        (H + "Subject:   账户 Name:  unicode véälue   \t7",
         parsed(0)),
        (H + "NoColonAtAll bare words only   \t8",
         parsed(0, summary="NoColonAtAll bare words only")),
        (H + "Key:value-no-space   K2:  v2   \t4",
         parsed(2, eventdata='{"Key":"value-no-space","K2":"v2"}')),
        ("no marker at all", {}),
        ("", {}),
        (H + "   \t0", parsed(0)),
        (H + "Logon Information:   Logon Type:  2   Elevated "
             "Token:  No   Virtual Account:  No   \t11",
         parsed(3, logoninformation=(
             '{"LogonType":2,"LogonTypeName":"Interactive",'
             '"ElevatedToken":"No","VirtualAccount":"No"}'))),
    ]
    df = spark.createDataFrame(
        [(i, m) for i, (m, _) in enumerate(cases)],
        "rid long, msg string")
    out = mmsnareparse(df)
    assert out.columns == ["rid", "msg", "cee_win_event"] + [
        "cee_win_" + c for c in (
            "accountinformation", "additionalinformation",
            "application", "authentication", "certificate",
            "detailedauthentication", "eventdata", "failure",
            "filter", "kerberos", "logon", "logoninformation",
            "network", "newlogon", "privileges", "process",
            "service", "share", "subject", "tlsinspection",
            "targetaccount", "wdac", "wufb", "validation", "stats",
            "summary", "laps")]
    got = {r.rid: {k: v for k, v in r.asDict().items()
                   if v is not None and k not in ("rid", "msg")}
           for r in out.collect()}
    assert got == {i: want for i, (_, want) in enumerate(cases)}
