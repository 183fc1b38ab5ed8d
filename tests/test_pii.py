"""PII detection/redaction (functions/pii.py): pattern behavior, chain
order, and count expressions — all pure Column logic, one tiny DataFrame."""

from __future__ import annotations

from pyspark.sql import functions as F

from wdedup_spark.functions import pii


def _one(spark, text: str, cols: dict):
    row = (
        spark.createDataFrame([(text,)], "t string")
        .select(*[c.alias(k) for k, c in cols.items()])
        .collect()[0]
    )
    return row.asDict()


def test_redact_all_types(spark):
    t = ("write bob.smith+x@mail.example.com from 10.0.0.255, "
         "call 555-123-4567 or 555.123.4567, ssn 123-45-6789 end")
    got = _one(spark, t, {"r": pii.redact("t")})["r"]
    assert got == ("write <EMAIL> from <IPV4>, "
                   "call <PHONE> or <PHONE>, ssn <SSN> end")


def test_email_consumed_before_ipv4_in_domain(spark):
    # an IP-looking run inside a mail domain must vanish as part of the
    # email, not survive as a separate <IPV4> hole — chain-order contract
    t = "x user@192.168.1.1.corp.example.com y"
    got = _one(spark, t, {"r": pii.redact("t")})["r"]
    assert got == "x <EMAIL> y"


def test_ssn_phone_disjoint(spark):
    # 3-2-4 is ssn, 3-3-4 is phone; neither pattern matches inside the
    # other's planted string
    cols = dict(pii.pii_counts("t"))
    got = _one(spark, "a 123-45-6789 b 123-456-7890 c", cols)
    assert got == {"email": 0, "ipv4": 0, "ssn": 1, "phone": 1}


def test_counts_and_has_pii(spark):
    t = "a@b.com c@d.org 1.2.3.4 nothing else"
    got = _one(spark, t, dict(pii.pii_counts("t")))
    assert got == {"email": 2, "ipv4": 1, "ssn": 0, "phone": 0}
    clean = _one(spark, "just words 12 34", dict(pii.pii_counts("t")))
    assert not any(clean.values())


def test_plain_numbers_not_redacted(spark):
    t = "version 1.2 of 2026 has 100 fixes"
    got = _one(spark, t, {"r": pii.redact("t")})["r"]
    assert got == t
