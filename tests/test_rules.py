"""Q3 (city_fraud) without the reference's count-distinct pre-filter equals
the reference formulation on generated data: NULL cities, terminals absent
from the history, terminals with several history versions (closed, changed
city, deleted), and hop gaps on both sides of the one-hour bound."""

import datetime as dt
import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_process_for_detecting_fraudulent_transactions_spark.frames import local_frame
from etl_process_for_detecting_fraudulent_transactions_spark.functions.casts import (
    minutes_between,
)
from etl_process_for_detecting_fraudulent_transactions_spark.operators.scd2 import (
    HIGH_TS,
    current_view,
)
from etl_process_for_detecting_fraudulent_transactions_spark.plans.rules import (
    _identity_by_card,
    city_fraud,
)
from etl_process_for_detecting_fraudulent_transactions_spark.schemas import (
    DIM_ACCOUNTS,
    DIM_CARDS,
    DIM_CLIENTS,
    DIM_TERMINALS_HIST,
    FACT_TRANSACTIONS,
)

T0 = dt.datetime(2021, 3, 1, 8, 0)
CITIES = ["Nor", "Vel", "Kar", None]


def _city_fraud_with_prefilter(transactions, terminals_hist, cards, accounts, clients,
                               compat_time_filter, compat_hist_join):
    """The reference formulation (rep_fraud.py:110-184): keep only cards with
    count(distinct city) > 1, then flag city changes between neighbours
    (in city_fraud's fixed order of tied rows)."""
    hist = terminals_hist if compat_hist_join else current_view(terminals_hist)
    city_dim = hist.select(F.col("terminal_id").alias("terminal"), "terminal_city",
                           "effective_from")
    tx_city = transactions.select("card_num", "trans_date", "trans_id", "terminal").join(
        city_dim, "terminal", "left")
    multi_city_cards = (
        tx_city.groupBy("card_num")
        .agg(F.count_distinct("terminal_city").alias("cnt_city"))
        .filter(F.col("cnt_city") > 1)
        .select("card_num")
    )
    w = Window.partitionBy("card_num").orderBy("trans_date", "trans_id", "effective_from")
    seq = (
        tx_city.join(multi_city_cards, "card_num", "inner")
        .withColumn("lead_trans_date", F.lead("trans_date").over(w))
        .withColumn("lead_terminal_city", F.lead("terminal_city").over(w))
    )
    if compat_time_filter:
        time_ok = minutes_between("trans_date", "lead_trans_date") <= 60
    else:
        time_ok = minutes_between("lead_trans_date", "trans_date") <= 60
    flagged = seq.filter((F.col("terminal_city") != F.col("lead_terminal_city")) & time_ok)
    events = flagged.groupBy("card_num").agg(F.max("trans_date").alias("event_dt"))
    return _identity_by_card(events, cards, accounts, clients, "city_fraud")


@pytest.fixture(scope="module")
def q3_inputs(spark):
    rnd = random.Random(20210301)
    terminals = [f"T{i:03d}" for i in range(30)]
    hist = []
    for t in terminals[:26]:  # T026..T029 are missing from the history
        ts = T0 - dt.timedelta(days=10)
        versions = rnd.randint(1, 4)
        for v in range(versions):
            last = v == versions - 1
            end = HIGH_TS if last else ts + dt.timedelta(days=rnd.randint(1, 3))
            deleted = 1 if last and rnd.random() < 0.15 else 0
            hist.append([t, "POS", rnd.choice(CITIES), f"addr {t}.{v}", ts, end, deleted])
            ts = end + dt.timedelta(seconds=1)
    tx = []
    for c in range(60):
        # a home terminal set of 1-3 terminals per card; gaps of 0-90 minutes
        home = rnd.sample(terminals, rnd.randint(1, 3))
        ts = T0 + dt.timedelta(minutes=rnd.randint(0, 600))
        for n in range(rnd.randint(1, 8)):
            ts += dt.timedelta(minutes=rnd.randint(0, 90))
            tx.append([f"tx{c}.{n}", ts, None, f"C{c:03d}", "PAYMENT", "SUCCESS",
                       rnd.choice(home)])
    cards = [[f"C{c:03d}", f"A{c % 20:03d}", None, None] for c in range(60)]
    accounts = [[f"A{a:03d}", None, f"CL{a % 15:03d}", None, None] for a in range(20)]
    clients = [[f"CL{k:03d}", f"Last{k}", f"First{k}", None if k % 4 == 0 else f"Patr{k}",
                None, f"P{k:04d}", None, f"+7 {k:03d}", None, None] for k in range(15)]
    return (local_frame(spark, tx, FACT_TRANSACTIONS),
            local_frame(spark, hist, DIM_TERMINALS_HIST),
            local_frame(spark, cards, DIM_CARDS),
            local_frame(spark, accounts, DIM_ACCOUNTS),
            local_frame(spark, clients, DIM_CLIENTS))


@pytest.mark.parametrize("compat_hist_join", [True, False])
@pytest.mark.parametrize("compat_time_filter", [True, False])
def test_city_fraud_equals_prefiltered_formulation(q3_inputs, compat_time_filter,
                                                   compat_hist_join):
    modes = dict(compat_time_filter=compat_time_filter, compat_hist_join=compat_hist_join)
    got = sorted(city_fraud(*q3_inputs, **modes).collect())
    want = sorted(_city_fraud_with_prefilter(*q3_inputs, **modes).collect())
    assert got == want
    # the generated day exercises the rule in every mode
    assert len(want) > 0


@pytest.mark.parametrize("compat_hist_join", [True, False])
def test_city_fraud_ignores_physical_row_order(spark, q3_inputs, compat_hist_join):
    """Rows tied on trans_date — a transaction repeated per history version
    of its terminal, or two transactions in the same minute — flag the same
    way whatever order the scans and joins deliver them in."""
    tx, hist, *dims = q3_inputs
    reordered = (local_frame(spark, tx.collect()[::-1], FACT_TRANSACTIONS),
                 local_frame(spark, hist.collect()[::-1], DIM_TERMINALS_HIST), *dims)
    got = sorted(city_fraud(*reordered, compat_hist_join=compat_hist_join).collect())
    want = sorted(city_fraud(*q3_inputs, compat_hist_join=compat_hist_join).collect())
    assert got == want
