from __future__ import annotations

import os

import pytest

from work_order_pdf_extractor_spark import fixtures, oracle
from work_order_pdf_extractor_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # the whole suite shares one driver JVM; its heap must fit the machine.
    # get_spark's 16 g default on a 15 GB VM lets G1 grow the heap until the
    # kernel OOM-kills the JVM mid-suite, failing every later test with
    # "Connection refused" — so cap it at half the physical memory
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{min(16, max(2, phys_gb // 2))}g")
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
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
