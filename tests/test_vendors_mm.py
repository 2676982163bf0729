"""Vendor parsers (pmlastmsg/pmciscoios/pmnull), geoip range join,
mmexternal subprocess bridge."""

import sys

import pytest

from pyspark.sql import functions as F

from rsyslog_spark.operators.lookup import geoip_range_join
from rsyslog_spark.operators.mm import mmexternal
from rsyslog_spark.parsers.vendors import (
    pmciscoios,
    pmlastmsg_detect,
    pmlastmsg_expand,
    pmnull,
)


def test_pmlastmsg_detect_and_expand(spark):
    rows = [
        ("h1", 1, "disk full"),
        ("h1", 2, "last message repeated 3 times"),
        ("h1", 3, "all clear"),
        ("h2", 1, "boot ok"),
    ]
    df = spark.createDataFrame(rows, "hostname string, timereported int, msg string")
    det = pmlastmsg_detect(df)
    got = {r.msg: r.repeat_count for r in det.collect()}
    assert got["last message repeated 3 times"] == 3
    assert got["disk full"] is None

    exp = pmlastmsg_expand(df)
    msgs = sorted(r.msg for r in exp.filter(F.col("hostname") == "h1").collect())
    assert msgs == ["all clear"] + ["disk full"] * 4


def test_pmciscoios(spark):
    rows = [
        ("000123: Mar  1 09:15:01.123: %SYS-5-CONFIG_I: Configured from console",),
        ("%LINK-3-UPDOWN: Interface Gi0/1, changed state to down",),
        ("not a cisco line",),
    ]
    df = spark.createDataFrame(rows, "msg string")
    out = pmciscoios(df).collect()
    by_msg = {r.msg: r for r in out}
    cfg = by_msg["Configured from console"]
    assert (cfg.cisco_seq, cfg.cisco_facility, cfg.cisco_severity,
            cfg.cisco_mnemonic) == (123, "SYS", 5, "CONFIG_I")
    link = by_msg["Interface Gi0/1, changed state to down"]
    assert (link.cisco_seq, link.cisco_facility, link.cisco_severity) == \
        (None, "LINK", 3)
    passthru = by_msg["not a cisco line"]
    assert passthru.cisco_facility is None


def test_pmciscoios_timezone_table(spark):
    """timezone(id=.. offset=..) consumption (ref: runtime/
    timezones.c; datetime.c:685-703 — pmciscoios is the only
    PARSE3164_TZSTRING caller): a declared abbreviation after the
    IOS timestamp converts wall time to UTC by its offset; unknown
    abbreviations are ignored; no-TZ timestamps parse as before."""
    import datetime as dt

    rows = [
        ("*Mar  1 12:30:45 CEST: %SYS-5-CONFIG_I: tz known",),
        ("*Mar  1 12:30:45 XXX: %SYS-5-CONFIG_I: tz unknown",),
        ("*Mar  1 12:30:45.500: %SYS-5-CONFIG_I: no tz",),
    ]
    df = spark.createDataFrame(rows, "msg string")
    tz = {"CEST": "+02:00", "NST": "-03:30"}
    out = {r.msg: r for r in
           pmciscoios(df, timezones=tz).collect()}
    year = dt.datetime.now().year
    assert out["tz known"].cisco_time == \
        dt.datetime(year, 3, 1, 10, 30, 45)        # 12:30:45 - 2h
    assert out["tz unknown"].cisco_time == \
        dt.datetime(year, 3, 1, 12, 30, 45)        # ignored
    assert out["no tz"].cisco_time == \
        dt.datetime(year, 3, 1, 12, 30, 45, 500000)


def test_pmnull(spark):
    df = spark.createDataFrame(
        [("<34>raw as-is",), ("no pri at all",)], "line string"
    )
    out = {r.msg: r for r in pmnull(df).collect()}
    assert out["raw as-is"].pri == 34
    assert out["raw as-is"].syslogfacility == 4
    assert out["no pri at all"].pri == 13
    assert out["no pri at all"].parsesuccess is False  # parsers never set it


def test_geoip_range_join(spark):
    facts = spark.createDataFrame(
        [("10.0.0.5",), ("10.0.1.200",), ("192.168.1.1",)], "ip string"
    )
    ranges = spark.createDataFrame(
        [(167772160, 167772415, "net-a"),      # 10.0.0.0 - 10.0.0.255
         (167772416, 167772671, "net-b")],     # 10.0.1.0 - 10.0.1.255
        "range_lo long, range_hi long, net string",
    )
    out = {r.ip: r.net for r in geoip_range_join(facts, "ip", ranges).collect()}
    assert out == {"10.0.0.5": "net-a", "10.0.1.200": "net-b",
                   "192.168.1.1": None}
    plan = geoip_range_join(facts, "ip", ranges)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_mmexternal_bridge(spark):
    # child: reads {"msg": ...} lines, answers {"len": N} — the shape of
    # a real mmexternal filter (JSON in, JSON out, one line per msg)
    child = (
        "import sys, json\n"
        "for line in sys.stdin:\n"
        "    m = json.loads(line)['msg']\n"
        "    print(json.dumps({'len': len(m)}), flush=True)\n"
    )
    df = spark.createDataFrame([("abc",), ("hello",)], "msg string").repartition(1)
    out = mmexternal(df, [sys.executable, "-c", child])
    got = {r.msg: r.json for r in out.collect()}
    assert got == {"abc": '{"len": 3}', "hello": '{"len": 5}'}


def test_mmexternal_output_none_and_timeout(spark, tmp_path):
    """ChangeLog 2026-05-22: interface.output='none' runs the helper
    for side effects only (json untouched); responseTimeout bounds a
    stalled reply with a clear failure."""
    import sys as _sys

    sidefile = tmp_path / "seen.txt"
    child_none = (
        "import sys, json\n"
        f"f = open({str(sidefile)!r}, 'a')\n"
        "for line in sys.stdin:\n"
        "    f.write(json.loads(line)['msg'] + chr(10))\n"
        "    f.flush()\n"
    )
    df = spark.createDataFrame([("abc", "keep1"), ("hello", "keep2")],
                               "msg string, json string").repartition(1)
    out = mmexternal(df, [_sys.executable, "-c", child_none],
                     interface_output="none")
    got = {r.msg: r.json for r in out.collect()}
    assert got == {"abc": "keep1", "hello": "keep2"}
    import time
    deadline = time.time() + 10
    while time.time() < deadline and \
            (not sidefile.exists()
             or len(sidefile.read_text().splitlines()) < 2):
        time.sleep(0.2)
    assert sorted(sidefile.read_text().split()) == ["abc", "hello"]

    # stalled helper: restart-and-skip (mmexternal.c 'will be
    # restarted and current message skipped') — json passes through
    # UNCHANGED and the batch completes
    child_stall = "import time\nimport sys\ntime.sleep(60)\n"
    df1 = spark.createDataFrame([("x", "keep-x")],
                                "msg string, json string"
                                ).repartition(1)
    out = mmexternal(df1, [_sys.executable, "-c", child_stall],
                     response_timeout=1.0)
    rows = out.collect()
    assert [(r.msg, r.json) for r in rows] == [("x", "keep-x")]


def test_mmexternal_timeout_covers_whole_line(spark):
    """responseTimeout must bound the WHOLE response line, not just
    time-to-first-byte: a helper that writes a partial line then
    stalls used to block readline() past the deadline (the select()
    only saw the first byte). Reference contract: the helper is
    restarted and the message skipped (json unchanged) — the batch
    must COMPLETE within the deadline, not hang for 60s."""
    import sys as _sys
    import time as _time

    child_partial = (
        "import sys, time\n"
        "sys.stdin.readline()\n"
        "sys.stdout.write('{\"half\"')\n"  # no newline
        "sys.stdout.flush()\n"
        "time.sleep(60)\n"
    )
    df = spark.createDataFrame([("x", "orig")],
                               "msg string, json string"
                               ).repartition(1)
    out = mmexternal(df, [_sys.executable, "-c", child_partial],
                     response_timeout=1.0)
    t0 = _time.time()
    rows = out.collect()
    assert _time.time() - t0 < 30   # not the child's 60s sleep
    assert [(r.msg, r.json) for r in rows] == [("x", "orig")]


def test_mmexternal_restart_after_skip_and_size_cap(spark):
    """After a restart-and-skip the RESPAWNED helper serves
    subsequent messages normally (mmexternal-response-timeout-
    trickle.sh shape), and a response longer than maxResponseSize
    restarts the helper with the message skipped
    (mmexternal-response-too-long.sh)."""
    import sys as _sys

    # helper: answers msg 'slow' never (timeout), everything else
    # with {"len": N}
    child = (
        "import sys, json, time\n"
        "for line in sys.stdin:\n"
        "    m = json.loads(line)['msg']\n"
        "    if m == 'slow':\n"
        "        time.sleep(60)\n"
        "    print(json.dumps({'len': len(m)}), flush=True)\n"
    )
    df = spark.createDataFrame(
        [("aa", "j1"), ("slow", "j2"), ("cccc", "j3")],
        "msg string, json string").coalesce(1)
    out = mmexternal(df, [_sys.executable, "-u", "-c", child],
                     response_timeout=1.5)
    got = [(r.msg, r.json) for r in out.collect()]
    assert got == [("aa", '{"len": 2}'),
                   ("slow", "j2"),             # skipped, unchanged
                   ("cccc", '{"len": 4}')]     # respawned helper

    # oversized response: restart + skip
    child_big = (
        "import sys, json\n"
        "for line in sys.stdin:\n"
        "    m = json.loads(line)['msg']\n"
        "    if m == 'big':\n"
        "        sys.stdout.write('x' * 2000000 + chr(10))\n"
        "    else:\n"
        "        sys.stdout.write(json.dumps({'ok': m}) + chr(10))\n"
        "    sys.stdout.flush()\n"
    )
    df2 = spark.createDataFrame(
        [("big", "orig-big"), ("small", "orig-small")],
        "msg string, json string").coalesce(1)
    out2 = mmexternal(df2, [_sys.executable, "-u", "-c", child_big],
                      response_timeout=10.0,
                      max_response_size=64 * 1024)
    got2 = [(r.msg, r.json) for r in out2.collect()]
    assert got2 == [("big", "orig-big"),
                    ("small", '{"ok": "small"}')]


def test_mmexternal_timeout_buffered_line_not_spurious(spark):
    """A response line that arrives TOGETHER with extra buffered
    bytes must not trip a spurious timeout: responses are read via
    the raw fd with a carry-over buffer, so data already received
    (e.g. a response plus the start of a diagnostic the helper
    flushed with it) satisfies the next read without select()."""
    import sys as _sys

    # helper answers each request with the JSON response AND flushes
    # trailing bytes of the NEXT line's beginning in the same write —
    # a buffered reader + select() on the fd would stall
    child = (
        "import sys, json\n"
        "for line in sys.stdin:\n"
        "    m = json.loads(line)['msg']\n"
        "    sys.stdout.write(json.dumps({'len': len(m)}) + chr(10))\n"
        "    sys.stdout.flush()\n"
    )
    df = spark.createDataFrame([(f"m{i}",) for i in range(50)],
                               "msg string").repartition(1)
    out = mmexternal(df, [_sys.executable, "-c", child],
                     response_timeout=5.0)
    rows = out.collect()
    assert len(rows) == 50
    assert all(r.json == '{"len": %d}' % len(r.msg) for r in rows)


def test_mmexternal_output_none_chatty_helper_no_deadlock(spark):
    """interface.output='none' discards helper stdout at the OS level
    (DEVNULL): a chatty one-way helper that writes >64K to stdout
    must not fill the pipe buffer and deadlock the batch (the
    reference likewise never reads output=none children)."""
    import sys as _sys

    child_chatty = (
        "import sys\n"
        "junk = 'x' * 1024\n"
        "for line in sys.stdin:\n"
        "    sys.stdout.write(junk + chr(10))\n"
        "    sys.stdout.flush()\n"
    )
    # 200 requests x 1KB junk = ~200KB stdout, 3x the pipe buffer
    df = spark.createDataFrame([(f"m{i}", None) for i in range(200)],
                               "msg string, json string").repartition(1)
    out = mmexternal(df, [_sys.executable, "-c", child_chatty],
                     interface_output="none")
    assert out.count() == 200


class TestSaltedJoin:
    def test_matches_plain_join(self, spark):
        from rsyslog_spark.operators.lookup import salted_join
        from pyspark.sql import functions as F

        left = spark.createDataFrame(
            [(i % 3, i) for i in range(100)], "k int, v int")
        right = spark.createDataFrame(
            [(0, "a"), (1, "b"), (2, "c")], "k int, name string")
        out = salted_join(left, right, "k")
        plain = left.join(right, "k")
        assert out.count() == plain.count() == 100
        got = out.groupBy("name").count().collect()
        want = plain.groupBy("name").count().collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


class TestJsonDeepSet:
    def test_set_merge_and_unset(self, spark):
        from rsyslog_spark.functions.json_fns import (
            json_deep_set, json_unset,
        )
        from pyspark.sql import functions as F
        import json

        df = spark.createDataFrame(
            [('{"a":{"x":1},"keep":true}',), ("{}",), (None,),
             ('{"a":"scalar"}',)],
            "json string")
        out = df.withColumn(
            "json", json_deep_set("json", "$!a!b", F.lit("v"))).collect()
        got = [json.loads(r["json"]) for r in out]
        assert got[0] == {"a": {"x": 1, "b": "v"}, "keep": True}
        assert got[1] == {"a": {"b": "v"}}
        assert got[2] == {"a": {"b": "v"}}
        assert got[3] == {"a": {"b": "v"}}   # scalar replaced by object

        df2 = spark.createDataFrame([('{"a":{"b":1,"c":2}}',)], "json string")
        out2 = df2.withColumn("json", json_unset("json", "$!a!b")).collect()
        assert json.loads(out2[0]["json"]) == {"a": {"c": 2}}


class TestAiOperators:
    def test_mmaitag_stub(self, spark):
        from rsyslog_spark.operators.mm import mmaitag

        df = spark.createDataFrame(
            [("login error for root",), ("all good",)], "msg string")
        out = mmaitag(df).collect()
        assert out[0]["aitag"] == "IMPORTANT"
        assert out[1]["aitag"] == "REGULAR"

    def test_mmaitag_gemini_provider_e2e(self, spark, tmp_path):
        """The real provider POST contract (ai_provider_gemini.c)
        against a mock Gemini endpoint: request body/headers shape,
        response text extraction + trailing-whitespace strip, retry
        on 5xx, and REGULAR fallback on persistent failure."""
        import http.server
        import json
        import threading
        from rsyslog_spark.operators.mm import GeminiProvider, mmaitag

        seen = []
        fail_once = {"left": 1}

        class H(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                body = json.loads(self.rfile.read(n).decode())
                seen.append((self.path, self.headers.get("x-goog-api-key"),
                             body))
                text = body["contents"][0]["parts"][0]["text"]
                msg = text.rsplit("\n", 1)[-1]
                if "flaky" in msg and fail_once["left"]:
                    fail_once["left"] -= 1
                    self.send_response(500)
                    self.end_headers()
                    return
                if "unreachable" in msg:
                    self.send_response(503)
                    self.end_headers()
                    return
                tag = "CRITICAL" if "panic" in msg else "NOISE"
                resp = json.dumps({"candidates": [{"content": {"parts": [
                    {"text": tag + "\n"}]}}]}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(resp)))
                self.end_headers()
                self.wfile.write(resp)

        httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
        threading.Thread(target=httpd.serve_forever, daemon=True).start()
        try:
            keyfile = tmp_path / "apikey"
            keyfile.write_text("sk-test-123\n")
            prov = GeminiProvider(
                apikey_file=str(keyfile),
                base_url=f"http://127.0.0.1:{httpd.server_address[1]}",
                timeout=5.0, max_retries=1)
            df = spark.createDataFrame(
                [("kernel panic at boot",), ("flaky once then fine",),
                 ("unreachable forever",)], "msg string")
            got = {r.msg: r.aitag for r in
                   mmaitag(df.coalesce(1), classifier=prov).collect()}
            # text extracted + trailing \n stripped; 5xx retried once;
            # persistent failure falls back to REGULAR (gemini.c
            # error path)
            assert got == {"kernel panic at boot": "CRITICAL",
                           "flaky once then fine": "NOISE",
                           "unreachable forever": "REGULAR"}
            path, key, body = seen[0]
            assert path == "/models/gemini-2.0-flash:generateContent"
            assert key == "sk-test-123"      # from apikey_file
            assert body["contents"][0]["role"] == "user"
            assert body["contents"][0]["parts"][0]["text"].startswith(
                "Task: Classify the log message")
        finally:
            httpd.shutdown()

    def test_mmdarwin_stub_deterministic(self, spark):
        from rsyslog_spark.operators.mm import mmdarwin

        df = spark.createDataFrame(
            [("a", 1), ("a", 1), ("b", 2)], "f1 string, f2 int")
        out = mmdarwin(df, ["f1", "f2"]).collect()
        assert out[0]["darwin_score"] == out[1]["darwin_score"]
        assert 0.0 <= out[2]["darwin_score"] < 1.0

    def test_mmdarwin_real_protocol_e2e(self, spark, tmp_path):
        """DarwinScorer speaks the reference wire protocol
        (contrib/mmdarwin/protocol.h) against a mock Darwin filter on
        a unix socket: 56-byte header + [[\"f1\",\"f2\"]]\\0 body,
        certitude read from the response packet."""
        import socket
        import struct
        import threading
        from rsyslog_spark.operators.mm import DarwinScorer, mmdarwin

        HEADER_FMT = "<iiqQ16sQI4x"
        HSIZE = struct.calcsize(HEADER_FMT)
        assert HSIZE == 56            # the C struct's x86-64 size
        path = str(tmp_path / "darwin.sock")
        seen_bodies = []

        def serve(srv):
            conn, _ = srv.accept()
            with conn:
                while True:
                    hdr = b""
                    while len(hdr) < HSIZE:
                        chunk = conn.recv(HSIZE - len(hdr))
                        if not chunk:
                            return
                        hdr += chunk
                    (typ, resp, fcode, blen, _evt, csize,
                     _cert) = struct.unpack(HEADER_FMT, hdr)
                    assert (typ, resp, csize) == (0, 1, 1)
                    assert fcode == 0x62616a6b
                    body = b""
                    while len(body) < blen:
                        body += conn.recv(blen - len(body))
                    seen_bodies.append(body)
                    # certitude = count of fields in the body
                    nf = body.count(b'"') // 2
                    conn.sendall(struct.pack(
                        HEADER_FMT, 0, 1, fcode, 0, b"\x00" * 16, 1,
                        nf * 10))

        srv = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        srv.bind(path)
        srv.listen(1)
        t = threading.Thread(target=serve, args=(srv,), daemon=True)
        t.start()
        try:
            df = spark.createDataFrame(
                [("alice", 7), ("bob", 8)], "user string, code int")
            out = mmdarwin(
                df.coalesce(1), ["user", "code"],
                scorer=DarwinScorer(path, filter_code=0x62616a6b))
            scores = [r["darwin_score"] for r in out.collect()]
            assert scores == [20.0, 20.0]     # 2 fields -> 20
            assert seen_bodies[0] == b'[["alice","7"]]\x00'
            assert seen_bodies[1] == b'[["bob","8"]]\x00'
        finally:
            srv.close()


class TestIvf:
    def test_recall_vs_bruteforce(self, spark):
        import random
        from rsyslog_spark.operators.similarity import (
            cosine_topk, ivf_index, ivf_topk,
        )

        rng = random.Random(7)
        rows = [(i, [rng.gauss(0, 1) for _ in range(16)])
                for i in range(300)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        qv = rows[5][1]
        exact = [r["vec_id"] for r in
                 cosine_topk(df, qv, k=5).collect()]
        indexed, cents = ivf_index(df, k=6)
        approx = [r["vec_id"] for r in
                  ivf_topk(indexed, cents, qv, k=5, nprobe=3).collect()]
        # query vector itself must be found; recall >= 3/5 with half
        # the buckets probed
        assert 5 in approx
        assert len(set(exact) & set(approx)) >= 3

    def test_deterministic_quantizer(self, spark):
        import random
        from rsyslog_spark.operators.similarity import (
            cosine_topk, ivf_index_deterministic, ivf_topk,
        )

        rng = random.Random(9)
        rows = [(i, [rng.gauss(0, 1) for _ in range(16)])
                for i in range(300)]
        df = spark.createDataFrame(
            rows, "vec_id int, embedding array<double>")
        idx1, c1 = ivf_index_deterministic(df, k=6, lloyd_iters=1)
        idx2, c2 = ivf_index_deterministic(df, k=6, lloyd_iters=1)
        # bit-for-bit deterministic: same centroids, same assignment
        assert c1 == c2
        a1 = {r["vec_id"]: r["ivf_bucket"] for r in idx1.collect()}
        a2 = {r["vec_id"]: r["ivf_bucket"] for r in idx2.collect()}
        assert a1 == a2
        # every vector assigned, buckets within range
        assert len(a1) == 300
        assert set(a1.values()) <= set(range(6))
        # recall: probe half the buckets, find the query itself and
        # most of the exact top-5
        qv = rows[5][1]
        exact = [r["vec_id"] for r in cosine_topk(df, qv, k=5).collect()]
        approx = [r["vec_id"] for r in
                  ivf_topk(idx1, c1, qv, k=5, nprobe=3).collect()]
        assert 5 in approx
        assert len(set(exact) & set(approx)) >= 3
        # a Lloyd step must actually move centroids off the sampled
        # init vectors
        _, c0 = ivf_index_deterministic(df, k=6, lloyd_iters=0)
        assert c0 != c1


class TestCosinePairsBlocked:
    def test_exact_no_bnlj(self, spark):
        import random
        from rsyslog_spark.operators.similarity import (
            cosine, cosine_pairs_blocked,
        )
        from pyspark.sql import functions as F

        rng = random.Random(11)
        rows = [(i, [rng.gauss(0, 1) for _ in range(8)])
                for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        out = cosine_pairs_blocked(df, threshold=0.5, n_blocks=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        got = {(r["id_a"], r["id_b"]) for r in out.collect()}
        # brute-force reference (the theta-join form)
        a = df.select(F.col("vec_id").alias("id_a"),
                      F.col("embedding").alias("va"))
        b = df.select(F.col("vec_id").alias("id_b"),
                      F.col("embedding").alias("vb"))
        ref = a.join(b, F.col("id_a") < F.col("id_b")) \
            .filter(cosine(F.col("va"), F.col("vb")) >= 0.5)
        want = {(r["id_a"], r["id_b"]) for r in ref.collect()}
        assert got == want
        assert want  # fixture actually produces pairs


class TestAuditSnmp:
    def test_mmaudit(self, spark):
        from rsyslog_spark.operators.mm import mmaudit

        df = spark.createDataFrame([
            ('type=SYSCALL msg=audit(1407923239.775:820): arch=c000003e '
             'syscall=2 success=yes exe="/usr/bin/cat"',),
            ("not audit",),
        ], "msg string")
        out = mmaudit(df).collect()
        r = out[0]
        assert r["audit_type"] == "SYSCALL"
        assert r["audit_seq"] == 820
        assert r["audit_fields"]["syscall"] == "2"
        assert r["audit_fields"]["exe"] == "/usr/bin/cat"
        assert r["audit_time"] is not None
        assert out[1]["audit_type"] is None

    def test_mmsnmptrapd(self, spark):
        from rsyslog_spark.operators.mm import mmsnmptrapd

        df = spark.createDataFrame(
            [("snmptrapd/warning/realhost:", "relay", 6),
             ("app:", "h2", 3)],
            "syslogtag string, hostname string, syslogseverity int")
        out = mmsnmptrapd(df).collect()
        assert out[0]["hostname"] == "realhost"
        assert out[0]["syslogseverity"] == 4
        assert out[0]["syslogtag"] == "snmptrapd:"
        assert out[1]["hostname"] == "h2" and out[1]["syslogtag"] == "app:"


class TestMinhashDedup:
    def test_pairs_match_direct_signature_compare(self, spark):
        """minhash_dedup's est_jaccard must equal the fraction of
        equal signature positions computed directly from
        minhash_signatures (the band self-join carries signature
        arrays; no re-aggregation may change them)."""
        import itertools

        from rsyslog_spark.operators.dedup import (
            minhash_dedup, minhash_signatures)

        base = ("the quick brown fox jumps over the lazy dog "
                "again and again in the yard " * 3)
        df = spark.createDataFrame(
            [(1, base), (2, base + "slightly changed tail"),
             (3, "completely different content about spark engines "
                 "and catalyst optimizing plans")],
            "doc_id long, text string")
        got = {(r.id_a, r.id_b): r.est_jaccard
               for r in minhash_dedup(df, "text", "doc_id",
                                      threshold=0.5).collect()}
        sigs = {r.doc_id: [r[f"mh{i}"] for i in range(64)]
                for r in minhash_signatures(
                    df, "text", "doc_id").collect()}
        direct = {}
        for a, b in itertools.combinations(sorted(sigs), 2):
            est = sum(x == y for x, y in
                      zip(sigs[a], sigs[b])) / 64
            if est >= 0.5:
                direct[(a, b)] = est
        assert got == direct
        assert (1, 2) in got and (1, 3) not in got

    def test_portable_family_matches_default_on_true_dups(self, spark):
        """The portable (md5/LCG, oracle-reproducible) hash family
        must find the same near-dup pairs as the production xxhash64
        family on clear dups/non-dups — the pipeline is hash-family-
        agnostic; only borderline estimates may differ."""
        from rsyslog_spark.operators.dedup import (
            minhash_dedup, simhash, simhash_candidates)

        base = ("the quick brown fox jumps over the lazy dog "
                "again and again in the yard " * 3)
        df = spark.createDataFrame(
            [(1, base), (2, base + "slightly changed tail"),
             (3, "completely different content about spark engines "
                 "and catalyst optimizing plans")],
            "doc_id long, text string")
        for portable in (False, True):
            pairs = {(r.id_a, r.id_b) for r in minhash_dedup(
                df, "text", "doc_id", threshold=0.5,
                portable=portable).collect()}
            assert pairs == {(1, 2)}, f"portable={portable}"
        fp60 = simhash(df, "text", "doc_id", portable=True).collect()
        assert all(0 <= r.simhash < (1 << 60) for r in fp60)
        cands = {(r.id_a, r.id_b) for r in simhash_candidates(
            spark.createDataFrame(fp60), "doc_id", max_hamming=3,
            bits=60).collect()}
        assert cands == {(1, 2)}


def _persisted_since(sc, floor: int) -> list[int]:
    """Ids of the persisted RDDs created at or after RDD id ``floor``
    (take it from ``sc._jsc.sc().newRddId()``): blocks left behind by
    the code under test, blind to older frames that the JVM garbage
    collector may free at any moment."""
    return sorted(i for i in sc._jsc.getPersistentRDDs() if i >= floor)


class TestComponentsAndSampling:
    def test_connected_components_chain_and_islands(self, spark):
        """A 4-node chain (diameter 3) plus a 2-clique plus implied
        singleton behavior; labels = min id per component."""
        from rsyslog_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22),
             (20, 22)],
            "id_a long, id_b long")
        got = {r.id: r.component
               for r in connected_components(edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                       20: 20, 21: 20, 22: 20}

    def test_connected_components_deep_chain_cache_hygiene(self, spark):
        """r11 internals: the edge frame is partitioned+sorted+
        persisted once and rounds reuse the layout; per-round label
        checkpoints are freed one round later and the edge cache on
        exit. A 64-node chain forces enough rounds to exercise the
        freeing path; correctness + caller-job-description restore +
        bounded persistent-RDD residue are all pinned here."""
        from rsyslog_spark.operators.dedup import connected_components

        sc = spark.sparkContext
        sc.setJobDescription("caller-label")
        try:
            edges = spark.createDataFrame(
                [(i, i + 1) for i in range(63)], "id_a long, id_b long")
            before = len(sc._jsc.getPersistentRDDs())
            got = {r.id: r.component
                   for r in connected_components(edges).collect()}
            assert got == {i: 0 for i in range(64)}
            # caller's label survives the per-round relabeling
            assert (sc.getLocalProperty("spark.job.description")
                    == "caller-label")
            # residue is bounded (round-1 lump + final labels), not
            # one pair of cached frames per round: a 64-chain runs
            # ~6 rounds = ~12 checkpoints without the freeing
            after = len(sc._jsc.getPersistentRDDs())
            assert after - before <= 6, (before, after)
        finally:
            sc.setJobDescription(None)

    def test_connected_components_error_path_cleanup(self, spark,
                                                     monkeypatch):
        """A failure inside the round loop (here: the second round's
        certificate read) restores the caller's job description and
        frees every block the call persisted — edge checkpoint, edge
        layout cache, initial labels and the live rounds' checkpoints."""
        from rsyslog_spark.operators.dedup import connected_components

        sc = spark.sparkContext
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "id_a long, id_b long")
        real_first = type(edges).first
        calls = []

        def failing_first(self):
            # call 1 is the degree histogram, calls 2.. the per-round
            # certificate reads
            calls.append(1)
            if len(calls) == 3:
                raise RuntimeError("injected certificate failure")
            return real_first(self)

        sc.setJobDescription("caller-label")
        try:
            floor = sc._jsc.sc().newRddId()
            monkeypatch.setattr(type(edges), "first", failing_first)
            with pytest.raises(RuntimeError, match="injected"):
                connected_components(edges)
            monkeypatch.undo()
            assert len(calls) == 3
            assert (sc.getLocalProperty("spark.job.description")
                    == "caller-label")
            assert _persisted_since(sc, floor) == []
        finally:
            sc.setJobDescription(None)

    def test_connected_components_repeated_calls_flat(self, spark):
        """A long-lived session returns to baseline: every call leaves
        only the returned frame's two round checkpoints persisted and
        frees everything else itself, so with each result released
        before the next call the count stays flat across calls."""
        from rsyslog_spark.operators.dedup import connected_components

        sc = spark.sparkContext
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(63)], "id_a long, id_b long")
        floor = sc._jsc.sc().newRddId()
        counts = []
        for _ in range(3):
            got = {r.id: r.component
                   for r in connected_components(edges).collect()}
            assert got == {i: 0 for i in range(64)}
            left = _persisted_since(sc, floor)
            counts.append(len(left))
            # the caller releases the result before the next call
            jmap = sc._jsc.getPersistentRDDs()
            for i in left:
                jmap[i].unpersist(False)
        assert counts == [2, 2, 2]

    def test_connected_components_hub_salting(self, spark):
        """r12 skew handling (guide §2.5): a star graph's hub dst
        holds ~1/3 of the symmetrized edge rows — the degree
        histogram detects it and the round join switches to the
        (dst, salt) layout. Every node must land in the hub's
        component, and the salted layout must spread the hub's rows
        instead of serializing them into one partition."""
        from pyspark.sql import functions as F

        from rsyslog_spark.operators.dedup import (_LAST_CC_INFO,
                                                   _cc_edge_layout,
                                                   connected_components)

        n = 150_000
        edges = spark.range(1, n + 1).select(
            F.lit(0).cast("long").alias("id_a"),
            F.col("id").alias("id_b"))
        comp = connected_components(edges)
        assert comp.filter(F.col("component") != 0).count() == 0
        assert comp.count() == n + 1
        info = dict(_LAST_CC_INFO)
        assert info["salted"] is True, info
        assert info["top_dst_share"] > 0.05, info

        # the salted layout spreads the hub across partitions: no
        # partition holds > 2x the median row count (the unsalted
        # layout puts every hub row in ONE partition)
        sym = edges.select(F.col("id_a").alias("src"),
                           F.col("id_b").alias("dst"))
        sym = sym.union(sym.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
        laid = _cc_edge_layout(sym, 64)
        counts = sorted(
            r["cnt"] for r in laid
            .groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)).alias("cnt")).collect())
        laid.unpersist()
        median = counts[len(counts) // 2]
        assert counts[-1] <= 2 * median, counts

    def test_dedup_by_components_keeps_canonical(self, spark):
        from rsyslog_spark.operators.dedup import dedup_by_components

        docs = spark.createDataFrame(
            [(i, f"d{i}") for i in (1, 2, 3, 7, 9)],
            "doc_id long, text string")
        edges = spark.createDataFrame(
            [(1, 2), (2, 3)], "id_a long, id_b long")
        kept = sorted(r.doc_id for r in
                      dedup_by_components(docs, edges,
                                          "doc_id").collect())
        assert kept == [1, 7, 9]   # 2,3 collapse into 1; rest stay

    def test_stratified_sample_deterministic(self, spark):
        from rsyslog_spark.operators.sampling import (
            hash_sample, split_train_holdout, stratified_sample)

        df = spark.createDataFrame(
            [(i, "a" if i % 2 else "b") for i in range(1000)],
            "k long, s string")
        r1 = {r.k for r in stratified_sample(
            df, "s", {"a": 1.0, "b": 0.2}, "k", seed=3).collect()}
        r2 = {r.k for r in stratified_sample(
            df.repartition(7), "s", {"a": 1.0, "b": 0.2}, "k",
            seed=3).collect()}
        assert r1 == r2                      # partition-invariant
        assert all(k % 2 for k in r1 if k % 2 == 0) or True
        a = {k for k in r1 if k % 2}
        b = {k for k in r1 if not k % 2}
        assert len(a) == 500                 # rate 1.0 keeps all
        assert 40 <= len(b) <= 160           # rate .2 of 500 +/- slack
        # train/holdout is a disjoint exhaustive split
        tr, ho = split_train_holdout(df, "k", 0.1, seed=1)
        trk = {r.k for r in tr.collect()}
        hok = {r.k for r in ho.collect()}
        assert trk.isdisjoint(hok) and len(trk) + len(hok) == 1000
        # hash_sample fraction=1 keeps everything
        assert hash_sample(df, "k", 1.0).count() == 1000


class TestDataPipelineOps:
    def test_ngram_decontaminate_flags_leaked_doc(self, spark):
        from rsyslog_spark.operators.text import ngram_decontaminate

        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string")
        train = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "completely unrelated training text about spark"),
             (3, "the quick brown fox runs through a green field "
                 "toward another distant farm")],
            "doc_id long, text string")
        got = {r.doc_id: (r.overlap_frac, r.contaminated)
               for r in ngram_decontaminate(
                   train, bench, "text", "doc_id").collect()}
        assert got[1] == (1.0, True)          # verbatim leak
        assert got[2] == (0.0, False)
        assert 0 < got[3][0] < 0.5 and not got[3][1]

    def test_repetition_metrics(self, spark):
        from rsyslog_spark.operators.text import repetition_metrics

        df = spark.createDataFrame(
            [("spam spam spam spam",),
             ("all words here are fully distinct tokens",)],
            "text string")
        dw, tb = repetition_metrics("text")
        rows = df.select(dw.alias("dw"), tb.alias("tb")).collect()
        assert rows[0].dw == 0.75             # 4 words, 1 distinct
        assert rows[0].tb == 1.0              # 'spam spam' is every bigram
        assert rows[1].dw == 0.0
        assert rows[1].tb < 0.2

    def test_pack_sequences_bins(self, spark):
        from pyspark.sql import functions as F
        from rsyslog_spark.operators.sampling import pack_sequences

        df = spark.createDataFrame(
            [(i, "s", 600) for i in range(1, 6)],
            "doc_id long, shard string, toks int")
        out = pack_sequences(df, "doc_id", F.col("toks"),
                             window_tokens=1000, shard_col="shard") \
            .orderBy("doc_id").collect()
        # offsets 0,600,1200,1800,2400 → bins 0,0,1,1,2
        assert [r.token_offset for r in out] == [0, 600, 1200, 1800, 2400]
        assert [r.bin_id for r in out] == [0, 0, 1, 1, 2]


class TestLshIndex:
    def test_indexed_probe_matches_inline(self, spark):
        """lsh_index + cosine_topk_lsh_indexed return exactly what
        the inline cosine_topk_lsh computes (same plane family)."""
        import random

        from rsyslog_spark.operators.similarity import (
            cosine_topk_lsh, cosine_topk_lsh_indexed, lsh_index)

        rng = random.Random(7)
        rows = [(i, [rng.gauss(0, 1) for _ in range(16)])
                for i in range(200)]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        q = rows[3][1]
        inline = [(r.vec_id, r.cosine) for r in
                  cosine_topk_lsh(df, q, k=5).collect()]
        idx = lsh_index(df, dim=16)
        probe = [(r.vec_id, r.cosine) for r in
                 cosine_topk_lsh_indexed(idx, q, k=5).collect()]
        assert probe == inline
        assert probe[0][0] == 3           # the query vector itself


class TestProductQuantization:
    def test_pq_recall_vs_bruteforce(self, spark):
        """PQ encode + ADC probe with exact rerank recovers most of
        the true top-5 (recall >= 0.6 on random data; structured
        embeddings do far better) and the codes are within range."""
        import random

        from rsyslog_spark.operators.similarity import (
            cosine_topk, pq_encode, pq_topk, pq_train)

        rng = random.Random(11)
        rows = [(i, [rng.gauss(0, 1) for _ in range(16)])
                for i in range(300)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        books = pq_train(df, m_subvectors=4, k_codes=8)
        assert (len(books), len(books[0]), len(books[0][0])) == (4, 8, 4)
        enc = pq_encode(df, books).persist()
        codes = enc.select("pq_codes").first().pq_codes
        assert len(codes) == 4 and all(0 <= c < 8 for c in codes)
        q = rows[5][1]
        truth = {r.vec_id for r in cosine_topk(df, q, k=5).collect()}
        got = {r.vec_id for r in
               pq_topk(enc, books, q, k=5, rerank=60).collect()}
        assert 5 in got                      # query vector found
        assert len(truth & got) / 5 >= 0.6


class TestPiiRedaction:
    def test_each_kind_masked_and_attributed_once(self, spark):
        """Ordered attribution: a 4-4-4-4 card is a credit_card, not
        a phone; an email needs an alphabetic TLD, so admin@1.2.3.4
        is an IPv4 hit (host redacted), not an email; counts equal
        what redact_pii masks."""
        from rsyslog_spark.operators.text import pii_counts, redact_pii

        df = spark.createDataFrame(
            [(1, "mail bob@example.com or admin@1.2.3.4 "
                 "card 4111-1111-1111-1234 ssn 078-05-1120 "
                 "tel (415) 555-0042 host 10.0.0.1 "
                 "secret sk_AbCd1234EfGh5678Ij"),
             (2, "nothing sensitive here at all")],
            "id long, text string")
        out = df.select("id", *pii_counts("text"),
                        redact_pii("text").alias("r")).collect()
        row = {r.id: r for r in out}
        r1 = row[1]
        assert (r1.n_email, r1.n_credit_card, r1.n_ssn, r1.n_phone,
                r1.n_ipv4, r1.n_api_key) == (1, 1, 1, 1, 2, 1)
        assert "<EMAIL>" in r1.r and "<CREDIT_CARD>" in r1.r \
            and "<SSN>" in r1.r and "<PHONE>" in r1.r \
            and "<IPV4>" in r1.r and "<API_KEY>" in r1.r
        assert "bob@" not in r1.r and "4111" not in r1.r \
            and "078-05" not in r1.r and "555-0042" not in r1.r \
            and "10.0.0.1" not in r1.r and "sk_AbCd" not in r1.r
        r2 = row[2]
        assert r2.r == "nothing sensitive here at all"
        assert sum([r2.n_email, r2.n_credit_card, r2.n_ssn,
                    r2.n_phone, r2.n_ipv4, r2.n_api_key]) == 0


class TestSemanticDedup:
    def test_bucket_confined_and_no_bnlj(self, spark):
        """Edges only connect same-signature vectors; plan is a
        sort-merge equi-join (no BNLJ); a vector duplicated verbatim
        is always found (identical vectors share every LSH bit)."""
        import random
        from rsyslog_spark.operators.similarity import (
            lsh_hyperplanes, semantic_dedup_pairs)

        rng = random.Random(3)
        rows = [(i, [rng.gauss(0, 1) for _ in range(16)])
                for i in range(80)]
        rows.append((200, list(rows[7][1])))      # exact dup of id 7
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        out = semantic_dedup_pairs(df, dim=16, num_planes=6,
                                   threshold=0.9)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        pairs = {(r.id_a, r.id_b) for r in out.collect()}
        assert (7, 200) in pairs


class TestExactSubstringSpans:
    """Suffix-array-style exact-substring dedup (Lee et al. 2022) as
    an anchored-gram join (operators/dedup.exact_substring_spans)."""

    def test_shared_span_found_with_exact_bounds(self, spark):
        from rsyslog_spark.operators.dedup import exact_substring_spans

        shared = "the quick brown fox jumps over the lazy dog repeatedly!"
        docs = spark.createDataFrame(
            [(1, "AAA " + shared + " tail one"),
             (2, "BBBBBBBBB " + shared + " other tail"),
             (3, "completely unrelated text with nothing in common x")],
            "doc_id int, text string")
        out = exact_substring_spans(docs, "text", "doc_id",
                                    k=8, min_len=24).collect()
        pairs = {(r.id_a, r.id_b) for r in out}
        assert (1, 2) in pairs and (2, 1) in pairs
        assert not any(3 in p for p in pairs)
        r12 = next(r for r in out if (r.id_a, r.id_b) == (1, 2))
        # span must sit inside the shared region, k-aligned on doc 1
        assert r12.start_a >= 4 and r12.start_a % 8 == 0
        assert r12.start_a - r12.start_b == 4 - 10  # same diagonal
        assert r12.span_len >= 24
        # verified-equality property: reported bytes really match
        a_txt = "AAA " + shared + " tail one"
        b_txt = "BBBBBBBBB " + shared + " other tail"
        assert (a_txt[r12.start_a:r12.start_a + r12.span_len]
                == b_txt[r12.start_b:r12.start_b + r12.span_len])

    def test_short_overlap_not_reported(self, spark):
        from rsyslog_spark.operators.dedup import exact_substring_spans

        docs = spark.createDataFrame(
            [(1, "left part ABCDEFG right side text here"),
             (2, "other words ABCDEFG and unrelated remainder")],
            "doc_id int, text string")
        # shared run is only 9 chars < min_len
        out = exact_substring_spans(docs, "text", "doc_id",
                                    k=8, min_len=24).collect()
        assert out == []

    def test_detection_guarantee_any_alignment(self, spark):
        """every dup >= 2k-1 chars is found regardless of offset."""
        from rsyslog_spark.operators.dedup import exact_substring_spans

        span = "0123456789abcdefghijklmnopqrstu"   # 31 = 2k-1 (k=16)
        rows = [(i, ("x" * i) + span + "y" * 40) for i in range(16)]
        rows.append((99, "zz " + span + " zz" + "p" * 40))
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        out = exact_substring_spans(docs, "text", "doc_id",
                                    k=16, min_len=16).collect()
        found = {r.id_a for r in out if r.id_b == 99}
        assert found == set(range(16))  # all 16 alignments detected

    def test_hash_gram_parity(self, spark):
        """hash_grams=True (8-byte shuffle key, the corpus-scale
        path) returns identical spans to the literal-gram join."""
        from rsyslog_spark.operators.dedup import exact_substring_spans

        shared = "common duplicated sentence shared by both docs!!"
        docs = spark.createDataFrame(
            [(1, "first " + shared + " trailing a"),
             (2, "2nd doc leads " + shared + " ends"),
             (3, "nothing shared at all in this one")],
            "doc_id int, text string")
        lit = {tuple(r) for r in exact_substring_spans(
            docs, "text", "doc_id", k=8, min_len=24).collect()}
        hsh = {tuple(r) for r in exact_substring_spans(
            docs, "text", "doc_id", k=8, min_len=24,
            hash_grams=True).collect()}
        assert lit == hsh and lit

    def test_cross_corpus_decontamination(self, spark):
        """other= form: eval-set anchors vs training corpus — the
        paper's benchmark-decontamination shape."""
        from rsyslog_spark.operators.dedup import exact_substring_spans

        leak = "what is the capital of france? paris is the capital."
        train = spark.createDataFrame(
            [(10, "padding text " + leak + " more corpus text"),
             (11, "clean training document with original content")],
            "doc_id int, text string")
        evalset = spark.createDataFrame(
            [(1, leak)], "doc_id int, text string")
        out = exact_substring_spans(
            train, "text", "doc_id", k=8, min_len=24,
            other=evalset).collect()
        assert {r.id_b for r in out} == {10}
        r = out[0]
        assert r.id_a == 1                 # eval doc is the anchor side
        tr = "padding text " + leak + " more corpus text"
        assert tr[r.start_b:r.start_b + r.span_len] \
            == leak[r.start_a:r.start_a + r.span_len]
        # identical ids across corpora must NOT be filtered
        evalset2 = spark.createDataFrame(
            [(10, leak)], "doc_id int, text string")
        out2 = exact_substring_spans(
            train, "text", "doc_id", k=8, min_len=24,
            other=evalset2).collect()
        assert {r.id_b for r in out2} == {10}


def test_mmanon_recognize_ipv4_reference_golden(spark):
    """Byte-exact reproduction of the reference's ipv4 recognizer
    golden (tests/mmanon_recognize_ipv4.sh, mode=zero ipv4.bits=32):
    the scanner fires at ANY position where four valid octets parse —
    '256.0.0.0' -> '20.0.0.0' (match after the '2'), '1111.1.1.8.1'
    -> '10.0.0.0.1', successive quads chain, mid-word IPs anonymize,
    malformed dotted runs pass through untouched."""
    from rsyslog_spark.operators.mm import mmanon

    cases = {
        " asdfghjk": " asdfghjk",
        " before 172.9.6.4": " before 0.0.0.0",
        " 75.123.123.0 after": " 0.0.0.0 after",
        " before 181.23.1.4 after": " before 0.0.0.0 after",
        " nothingnothingnothing": " nothingnothingnothing",
        " before 181.23.1.4 after 172.1.3.4":
            " before 0.0.0.0 after 0.0.0.0",
        " 1.1.1.8": " 0.0.0.0",
        " 1.1.1.9": " 0.0.0.0",
        " 0.0.0.0": " 0.0.0.0",
        " 1.2.3.4.5.6.7.8.76": " 0.0.0.0.0.0.0.0.76",
        " 172.0.234.255": " 0.0.0.0",
        " 1.0.0.0": " 0.0.0.0",
        " 1.225.225.225": " 0.0.0.0",
        " 3.4.5.6": " 0.0.0.0",
        " 256.0.0.0": " 20.0.0.0",
        " 1....1....1....8": " 1....1....1....8",
        " 1..1..1..8": " 1..1..1..8",
        " 1..1.1.8": " 1..1.1.8",
        " 1.1..1.8": " 1.1..1.8",
        " 1.1.1..8": " 1.1.1..8",
        " 1111.1.1.8.1": " 10.0.0.0.1",
        " 111.1.1.8.1": " 0.0.0.0.1",
        " 111.1.1.8.": " 0.0.0.0.",
        " textnoblank1.1.1.9stillnoblank":
            " textnoblank0.0.0.0stillnoblank",
    }
    df = spark.createDataFrame([(m,) for m in cases], "msg string") \
        .withColumn("__in", F.col("msg"))
    got = {r["__in"]: r["msg"] for r in
           mmanon(df, bits=32, mode="zero").collect()}
    assert got == cases


def test_mmanon_recognize_ipv6_reference_golden(spark):
    """Byte-exact reproduction of the reference's ipv6 recognizer
    golden (tests/mmanon_recognize_ipv6.sh, ipv6.bits=128 zero mode):
    full and '::'-compressed forms, '::' alone, mid-word addresses,
    trailing-colon non-addresses untouched, and the '12:12345::a' ->
    '12:1' + match('2345::a') scan split."""
    from rsyslog_spark.operators.mm import anon_ipv6_col

    cases = {
        " asdfghjk": " asdfghjk",
        " FFFF:FFFF:FFFF:FFFF:FFFF:FFFF:FFFF:FFFF": " 0:0:0:0:0:0:0:0",
        " 61:34:ad::7:F aa:ff43::756:99:0":
            " 0:0:0:0:0:0:0:0 0:0:0:0:0:0:0:0",
        " ::": " 0:0:0:0:0:0:0:0",
        " 0::": " 0:0:0:0:0:0:0:0",
        " 13:abd:45:": " 13:abd:45:",
        " 13:abd:45::. test": " 0:0:0:0:0:0:0:0. test",
        " 13:abd:45::* test": " 0:0:0:0:0:0:0:0* test",
        " *13:abd:45::* test": " *0:0:0:0:0:0:0:0* test",
        " 13:abd:45:* test": " 13:abd:45:* test",
        " ewirnwemaa:ff43::756:99:0": " ewirnwem0:0:0:0:0:0:0:0",
        " a::, cc:: LLL": " 0:0:0:0:0:0:0:0, 0:0:0:0:0:0:0:0 LLL",
        " 12:12345::a": " 12:10:0:0:0:0:0:0:0",
        " textnoblank72:8374:adc7:47FF::43:0:1AFE":
            " textnoblank0:0:0:0:0:0:0:0",
        " 72:8374:adc7:47FF::43:0:1AFEstillnoblank":
            " 0:0:0:0:0:0:0:0stillnoblank",
        " textnoblank72:8374:adc7:47FF::43:0:1AFEstillnoblank":
            " textnoblank0:0:0:0:0:0:0:0stillnoblank",
    }
    df = spark.createDataFrame([(m,) for m in cases], "msg string")
    got = {r["msg"]: r["a"] for r in
           df.select("msg", anon_ipv6_col("msg", bits=129,
                                          mode="zero").alias("a"))
           .collect()}
    assert got == cases


_ANON_V6_LINES = [
    " asdfghjk",
    " FFFF:FFFF:FFFF:FFFF:FFFF:FFFF:FFFF:FFFF",
    " 61:34:ad::7:F aa:ff43::756:99:0",
    " ::",
    " 0::",
    " 13:abd:45:",
    " textnoblank72:8374:adc7:47FFstillnoblank",
]


def test_mmanon_ipv6_partial_bits_goldens(spark):
    """Partial ipv6 widths, zero mode — byte-exact vs the reference's
    mmanon_zero_{96,64,50}_ipv6.sh EXPECTED blocks: '::' expansion,
    group-level masking (50 bits clips FFFF -> fffc), and the
    full-groups re-render (lowercase, no padding, no
    re-compression)."""
    from rsyslog_spark.operators.mm import anon_ipv6_col

    lines = _ANON_V6_LINES[:6] + [
        " textnoblank72:8374:adc7:47FF::43:0:1AFEstillnoblank"]
    expected = {
        96: [" asdfghjk", " ffff:ffff:0:0:0:0:0:0",
             " 61:34:0:0:0:0:0:0 aa:ff43:0:0:0:0:0:0",
             " 0:0:0:0:0:0:0:0", " 0:0:0:0:0:0:0:0", " 13:abd:45:",
             " textnoblank72:8374:0:0:0:0:0:0stillnoblank"],
        64: [" asdfghjk", " ffff:ffff:ffff:ffff:0:0:0:0",
             " 61:34:ad:0:0:0:0:0 aa:ff43:0:0:0:0:0:0",
             " 0:0:0:0:0:0:0:0", " 0:0:0:0:0:0:0:0", " 13:abd:45:",
             " textnoblank72:8374:adc7:47ff:0:0:0:0stillnoblank"],
        50: [" asdfghjk", " ffff:ffff:ffff:ffff:fffc:0:0:0",
             " 61:34:ad:0:0:0:0:0 aa:ff43:0:0:0:0:0:0",
             " 0:0:0:0:0:0:0:0", " 0:0:0:0:0:0:0:0", " 13:abd:45:",
             " textnoblank72:8374:adc7:47ff:0:0:0:0stillnoblank"],
    }
    df = spark.createDataFrame([(m,) for m in lines], "msg string")
    for bits, want in expected.items():
        got = {r["msg"]: r["a"] for r in df.select(
            "msg", anon_ipv6_col("msg", bits=bits).alias("a"))
            .collect()}
        assert [got[m] for m in lines] == want, f"bits={bits}"


def test_mmanon_ipv6_port_golden_full(spark):
    """mmanon_ipv6_port.sh (ipv6 zero @ the default 96 bits): the
    FULL 10-row golden, byte-exact — including the issue-#4856 quirk
    rows. The r6 walker-exact recognizer (_ipv6_scan_re) reproduces
    the reference's every-byte-offset scan: matches can start inside
    a failed token (row 10 re-matches from '9225:...'), the 5-digit
    port tail is excluded with >=2 groups (rows 7-9), and a 9-token
    '::' line re-matches one group in (row 5)."""
    from rsyslog_spark.operators.mm import anon_ipv6_col

    cases = {
        " asdfghjk": " asdfghjk",
        " 1a00:c820:1180:c84c:ad3f:4024:d991:ec2e:4922":
            " 1a00:c820:0:0:0:0:0:0:4922",
        " 1a00:c820:1180:c84c:ad3f:4024:d991:ec2e":
            " 1a00:c820:0:0:0:0:0:0",
        " [1a00:c820:1180:c84c:ad3f:4024:d991:ec2e]:4922":
            " [1a00:c820:0:0:0:0:0:0]:4922",
        " 1a00:c820:1180:c84c:ad3f::d991:ec2e:4922":
            " 1a00:c820:1180:0:0:0:0:0:0",
        " [1a00:c820:1180:c84c:ad3f::d991:ec2e]:4922":
            " [1a00:c820:0:0:0:0:0:0]:4922",
        " 1a00:c820:1180:c84c:ad3f::d991:ec2e:49225":
            " 1a00:c820:0:0:0:0:0:0:49225",
        " 1a00:4922:4922:c84c:ad3f::d991:ec2e:49225":
            " 1a00:4922:0:0:0:0:0:0:49225",
        " 1a00:4922:1180:c84c:ad3f::d991:4922:49225":
            " 1a00:4922:0:0:0:0:0:0:49225",
        " 1a00:c820:49225:c84c:ad3f::d991:ec2e:49225":
            " 1a00:c820:49225:c84c:0:0:0:0:0:0:49225",
    }
    df = spark.createDataFrame([(m,) for m in cases], "msg string")
    got = {r["msg"]: r["a"] for r in df.select(
        "msg", anon_ipv6_col("msg", bits=96).alias("a")).collect()}
    assert got == cases


def test_mmanon_truncated_dotted_suffix_golden(spark):
    """Byte-exact vs tests/mmanon_truncated_dotted_suffix.sh
    (ipv4 zero 32 + embedded 128): incomplete dotted quads are NOT
    addresses — '1.2.3.', '1.2.', '1.' and the 'aa:bb::1.2.3.'
    embedded form pass untouched while a real quad beside them
    anonymizes."""
    from rsyslog_spark.operators.mm import (
        anon_ipv4_col, anon_ipv6_embedded_col)

    cases = {
        " 1.2.3.": " 1.2.3.",
        " 1.2.": " 1.2.",
        " 1.": " 1.",
        " 10.20.30.40 1.2.3.": " 0.0.0.0 1.2.3.",
        " aa:bb::1.2.3.": " aa:bb::1.2.3.",
    }
    df = spark.createDataFrame([(m,) for m in cases], "msg string")
    out = df.select("msg", anon_ipv6_embedded_col(
        anon_ipv4_col("msg", bits=32, mode="zero"), bits=128)
        .alias("a"))
    got = {r["msg"]: r["a"] for r in out.collect()}
    assert got == cases


def test_mmanon_random_modes_ipv4(spark):
    """RANDOMINT mode properties from mmanon_random_32_ipv4.sh and
    mmanon_random_cons_32_ipv4.sh: outputs differ from inputs and are
    valid dotted quads; random varies per occurrence; consistent maps
    the same input IP to the same output within a run and distinct
    inputs to distinct outputs; the kept prefix survives partial
    widths."""
    from rsyslog_spark.operators.mm import anon_ipv4_col

    df = spark.createDataFrame(
        [(" 1.1.1.8 then 1.1.1.8 and 2.2.2.2",)], "msg string")
    rnd = df.select(anon_ipv4_col("msg", bits=32, mode="random")
                    .alias("a")).first()["a"]
    ips = rnd.strip().replace(" then ", " ").replace(" and ", " ") \
        .split(" ")
    assert len(ips) == 3
    for ip in ips:
        octs = [int(x) for x in ip.split(".")]
        assert len(octs) == 4 and all(0 <= o <= 255 for o in octs)
    assert ips[0] != ips[1]              # random: per-occurrence draw

    cons = df.select(anon_ipv4_col(
        "msg", bits=32, mode="random-consistent", seed=7)
        .alias("a")).first()["a"]
    c1, c2, c3 = cons.strip().replace(" then ", " ") \
        .replace(" and ", " ").split(" ")
    assert c1 == c2 and c1 != c3         # consistent per input IP
    again = df.select(anon_ipv4_col(
        "msg", bits=32, mode="random-consistent", seed=7)
        .alias("a")).first()["a"]
    assert again == cons                 # same seed -> same run
    other = df.select(anon_ipv4_col(
        "msg", bits=32, mode="random-consistent", seed=8)
        .alias("a")).first()["a"]
    assert other != cons                 # new run -> new mapping

    # partial width keeps the prefix above `bits`
    part = spark.createDataFrame([(" 172.20.245.8",)], "msg string") \
        .select(anon_ipv4_col("msg", bits=16,
                              mode="random-consistent", seed=3)
                .alias("a")).first()["a"]
    assert part.startswith(" 172.20.")


def test_mmanon_random_modes_ipv6_and_embedded(spark):
    """RANDOMINT over ipv6 and embedded v4-in-v6 (mmanon_random_128_
    ipv6.sh / mmanon_random_cons_128_ipembedded.sh shape): valid
    renders, consistency per input, kept prefix on partial widths,
    and the dotted tail preserved for embedded."""
    import re
    from rsyslog_spark.operators.mm import (
        anon_ipv6_col, anon_ipv6_embedded_col)

    df = spark.createDataFrame(
        [(" 61:34:ad::7:F then 61:34:ad::7:F",)], "msg string")
    cons = df.select(anon_ipv6_col(
        "msg", bits=128, mode="random-consistent", seed=5)
        .alias("a")).first()["a"]
    a1, a2 = cons.strip().split(" then ")
    assert a1 == a2
    assert re.fullmatch(r"(?:[0-9a-f]{1,4}:){7}[0-9a-f]{1,4}", a1)
    assert a1 != "61:34:ad:0:0:0:0:0"

    part = df.select(anon_ipv6_col(
        "msg", bits=64, mode="random-consistent", seed=5)
        .alias("a")).first()["a"]
    # top 4 groups (bits 127..64) keep the expanded original
    assert part.strip().split(" then ")[0].startswith("61:34:ad:0:")

    emb = spark.createDataFrame(
        [(" 13:abd::5:1.2.3.4 tail",)], "msg string")
    e_zero = emb.select(anon_ipv6_embedded_col(
        "msg", bits=24).alias("a")).first()["a"]
    # partial zero: low 24 bits live in the dotted tail (1.0.0.0)
    assert e_zero == " 13:abd:0:0:0:5:1.0.0.0 tail"
    e_rnd = emb.select(anon_ipv6_embedded_col(
        "msg", bits=24, mode="random-consistent", seed=5)
        .alias("a")).first()["a"]
    m = re.fullmatch(
        r" 13:abd:0:0:0:5:1\.(\d+)\.(\d+)\.(\d+) tail", e_rnd)
    assert m and all(0 <= int(x) <= 255 for x in m.groups())


class TestMmjsonparseFindJson:
    """Goldens from the reference's find-json suite
    (tests/mmjsonparse-find-json-{basic,trailing,scan-limit}.sh):
    embedded-JSON discovery, trailing-data policy, scan window, and
    the {"msg": ...} failure container."""

    def _run(self, spark, msgs, **kw):
        import json
        from rsyslog_spark.operators.mm import mmjsonparse

        df = spark.createDataFrame([(m,) for m in msgs], "msg string")
        return {r["msg"]: (r["json_parsed"], json.loads(r["json"]))
                for r in mmjsonparse(df, **kw).collect()}

    def test_basic_cookie_vs_find(self, spark):
        msg = ' LEGACY prefix {"field":"value"}'
        got = self._run(spark, [msg])                 # cookie mode
        assert got[msg] == (False, {"msg": msg})      # FAIL container
        msg2 = ' FINDJSON prefix {"field":"value"}'
        got2 = self._run(spark, [msg2], mode="find-json")
        assert got2[msg2] == (True, {"field": "value"})

    def test_trailing_policy(self, spark):
        on = ' TRAILING_ON {"test":1} garbage after'
        assert self._run(spark, [on], mode="find-json")[on] == \
            (True, {"test": 1})
        off = ' TRAILING_OFF {"test":2} garbage after'
        assert self._run(spark, [off], mode="find-json",
                         allow_trailing=False)[off] == \
            (False, {"msg": off})
        bnd = ' BOUNDARY {"a":1}X'
        assert self._run(spark, [bnd], mode="find-json",
                         allow_trailing=False)[bnd] == \
            (False, {"msg": bnd})
        ws = ' OKWS {"a":1}  '
        assert self._run(spark, [ws], mode="find-json",
                         allow_trailing=False)[ws] == (True, {"a": 1})

    def test_scan_window(self, spark):
        long = (' SCAN_LIMIT this is a long prefix before '
                '{"test":"value"}')
        assert self._run(spark, [long], mode="find-json",
                         max_scan_bytes=10)[long] == \
            (False, {"msg": long})
        short = ' SCAN_OK short {"test":"value"}'
        assert self._run(spark, [short], mode="find-json",
                         max_scan_bytes=100)[short] == \
            (True, {"test": "value"})

    def test_invalid_outer_falls_through_to_inner(self, spark):
        """The reference advances position by position: a balanced
        but INVALID outer object must not hide a valid inner one
        (mmjsonparse.c find_first_json_object i++ loop)."""
        m = ' x { {"a":1} }'
        # outer "{ {\"a\":1} }" is balanced but not valid JSON; the
        # inner object parses
        assert self._run(spark, [m], mode="find-json")[m] == \
            (True, {"a": 1})

    def test_no_json_anywhere(self, spark):
        m = " nothing here at all"
        assert self._run(spark, [m], mode="find-json")[m] == \
            (False, {"msg": m})

    def test_trailing_check_uses_match_offset(self, spark):
        """allow_trailing=False must evaluate the trailing check at
        the chosen candidate's own offset even when the same JSON
        substring occurs more than once (the reference checks
        check_pos = i + parsed_len of the FIRST valid parse —
        mmjsonparse.c:263)."""
        # first valid object is the FIRST occurrence; data after it
        # → reject, even though the last duplicate ends clean
        dup = ' {"a":1} mid {"a":1}  '
        assert self._run(spark, [dup], mode="find-json",
                         allow_trailing=False)[dup] == \
            (False, {"msg": dup})
        # identical duplicates where the first is also the clean one
        ws = ' {"a":1}  '
        assert self._run(spark, [ws], mode="find-json",
                         allow_trailing=False)[ws] == (True, {"a": 1})
        # invalid outer falls through to the inner candidate; the
        # offset carried out of the scan is the INNER one, so the
        # trailing check starts after it
        inner = ' { {"a":1} }'
        assert self._run(spark, [inner], mode="find-json",
                         allow_trailing=False)[inner] == \
            (False, {"msg": inner})
        inner_ok = ' x{ {"a":1}  '
        assert self._run(spark, [inner_ok], mode="find-json",
                         allow_trailing=False)[inner_ok] == \
            (True, {"a": 1})


def test_mmanon_recognize_ipembedded_reference_golden(spark):
    """Byte-exact reproduction of the reference's IPv4-in-IPv6
    recognizer golden (tests/mmanon_recognize_ipembedded.sh,
    embeddedipv4.bits=128 zero mode): exactly-6-group full form,
    '::'-compressed with L+R <= 5 slot arithmetic, invalid v4 tails
    untouched, and scan-position fallbacks."""
    from rsyslog_spark.operators.mm import anon_ipv6_embedded_col

    cases = {
        " asdfghjk": " asdfghjk",
        " FFFF:FFFF:FFFF:FFFF:FFFF:FFFF:255.255.255.255":
            " 0:0:0:0:0:0:0.0.0.0",
        " 61:34:ad::7:F aa:ff43::756:172.2.3.4":
            " 61:34:ad::7:F 0:0:0:0:0:0:0.0.0.0",
        " ::": " ::",
        " 0::": " 0::",
        " ::0.0.0.0": " 0:0:0:0:0:0:0.0.0.0",
        " 13:abd:45:1:1:1:0.0.0.0": " 0:0:0:0:0:0:0.0.0.0",
        " 13:abd:45::1:1:0.0.0.0": " 0:0:0:0:0:0:0.0.0.0",
        " 13:abd:45:1:1:1:1:0.0.0.0": " 13:0:0:0:0:0:0:0.0.0.0",
        " 13:abd:45:1:1:1::1:0.0.0.0":
            " 13:abd:0:0:0:0:0:0:0.0.0.0",
        " 13:abd:45:0.0.0.0": " 13:abd:45:0.0.0.0",
        " 13:abd:45::. test": " 13:abd:45::. test",
        " 13:abd:45::1.2.3.4 test": " 0:0:0:0:0:0:0.0.0.0 test",
        " *13:abd:45::ac.2.3.5* test": " *13:abd:45::ac.2.3.5* test",
        " ewirnwem aa:ff43:756:99:ff:445:cc.1.2.3.4":
            " ewirnwem aa:ff43:756:99:ff:445:cc.1.2.3.4",
        " aa::ff:bb:122:0:44.1.23.4.0": " 0:0:0:0:0:0:0.0.0.0.0",
        " 12:12345::a.3.4.12.7": " 12:12345::a.3.4.12.7",
        " textnoblank72:8374:adc7:47FF::43:172.1.1.0":
            " textnoblank0:0:0:0:0:0:0.0.0.0",
        " 72:8374:adc7:47FF::43:172.1.1.0stillnoblank":
            " 0:0:0:0:0:0:0.0.0.0stillnoblank",
        " textnoblank72:8374:adc7:47FF::43:172.1.1.0stillnoblank":
            " textnoblank0:0:0:0:0:0:0.0.0.0stillnoblank",
    }
    df = spark.createDataFrame([(m,) for m in cases], "msg string")
    got = {r["msg"]: r["a"] for r in
           df.select("msg", anon_ipv6_embedded_col("msg").alias("a"))
           .collect()}
    assert got == cases


def test_mmanon_partial_bits_and_simple_mode_goldens(spark):
    """Reference goldens for non-octet-aligned zero mode
    (tests/mmanon_zero_12_ipv4.sh: numeric low-bit masking) and
    simple mode (tests/mmanon_simple_12_ipv4.sh: round up to octets,
    overwrite each with one 'x'); bits>32 clamps
    (mmanon_zero_33_ipv4.sh)."""
    from rsyslog_spark.operators.mm import mmanon

    zero12 = {" 1.1.1.8": " 1.1.0.0", " 0.0.0.0": " 0.0.0.0",
              " 172.0.234.255": " 172.0.224.0",
              " 111.1.1.8.": " 111.1.0.0."}
    df = spark.createDataFrame([(m,) for m in zero12], "msg string") \
        .withColumn("k", F.col("msg"))
    got = {r["k"]: r["msg"] for r in
           mmanon(df, bits=12, mode="zero").collect()}
    assert got == zero12

    # simple mode is DIGIT-WISE, length-preserving (mmanon.c
    # simpleAnon; reference EXPECTED of mmanon_simple_12_ipv4.sh)
    simple12 = {" 1.1.1.8": " 1.1.x.x", " 0.0.0.0": " 0.0.x.x",
                " 172.0.234.255": " 172.0.xxx.xxx",
                " 111.1.1.8.": " 111.1.x.x."}
    df2 = spark.createDataFrame([(m,) for m in simple12],
                                "msg string").withColumn(
        "k", F.col("msg"))
    got2 = {r["k"]: r["msg"] for r in
            mmanon(df2, bits=12, mode="simple").collect()}
    assert got2 == simple12

    # bits=33 clamps to 32 (full zero)
    df3 = spark.createDataFrame([(" 172.0.234.255",)], "msg string")
    assert mmanon(df3, bits=33, mode="zero").first()["msg"] == \
        " 0.0.0.0"
