from __future__ import annotations

import os

import pytest

from work_order_pdf_extractor_spark import fixtures, oracle
from work_order_pdf_extractor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8)
    # the whole suite shares one driver JVM; a heap larger than half the
    # machine lets G1 grow until the kernel OOM-kills the JVM mid-suite,
    # failing every later test with "Connection refused"
    max_heap = s.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert max_heap <= os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_transcripts_pd():
    return fixtures.gen_transcripts("tiny")


@pytest.fixture(scope="session")
def ref_orders_pd():
    return fixtures.gen_reference_orders()


@pytest.fixture(scope="session")
def golden_pd(tiny_transcripts_pd, ref_orders_pd):
    return oracle.extract_goldens(tiny_transcripts_pd, ref_orders_pd)


@pytest.fixture(scope="session")
def transcripts_df(spark, tiny_transcripts_pd):
    return spark.createDataFrame(tiny_transcripts_pd)


@pytest.fixture(scope="session")
def ref_orders_df(spark, ref_orders_pd):
    return spark.createDataFrame(ref_orders_pd)
