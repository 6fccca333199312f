"""Seeded input generators for the benchmark.

`tables` writes the ten analytics tables every registered query reads
(TPC-H-ish star schema plus `events`, `documents` and `embeddings`), one
parquet file each, with the column types and value domains documented in
FIXTURES.md section B. Row counts are fixed by the scale factor; the seed
sets every value.

`site` writes a pre-fetched Lianjia crawl: village pages plus on-sale and
sold house-detail pages as three `(url, html)` parquet tables, and returns
what the generator knows it wrote (counts, per-status sums, a few typed
sample values) so the benchmark can check the ETL output against it.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def tables(seed, sf, out):
    """Write the ten query tables at scale factor `sf` into `out`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(150, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(rng.permutation(np.arange(25) % 5), i32)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), s)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 2), f64)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04"), pa.timestamp("us"))})
    # a 30-day stream with exponential inter-arrival gaps, in ts order
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # 5% of documents repeat an earlier original's text with a " dup" tail
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + n]))
        at += n
    dups = rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False)
    for d in sorted(dups):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(["en", "zh", "es", "fr", "de"], n_docs,
                                    p=[0.4, 0.15, 0.15, 0.15, 0.15]), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# ---------------------------------------------------------------- site --

BASE = "https://sh.lianjia.com"
DISTRICTS = {"浦东": ["联洋", "花木", "张江", "金桥"], "闵行": ["莘庄", "七宝", "古美"],
             "徐汇": ["田林", "漕河泾", "徐家汇"], "静安": ["曹家渡", "大宁"]}
ROADS = ["芳甸路", "锦绣路", "碧云路", "虹梅路", "宜山路", "共和新路"]
BUILD_TYPES = ["板楼", "塔楼", "板塔结合"]
LAYOUTS = ["1室1厅1厨1卫", "2室1厅1厨1卫", "2室2厅1厨1卫", "3室2厅1厨2卫", "4室2厅1厨2卫"]
FLOORS = ["低楼层", "中楼层", "高楼层"]
FACING = ["南", "南 北", "东南", "西"]
DECOR = ["精装", "简装", "毛坯"]


def _filler(rng, n):
    """Navigation and listing boilerplate, so each page carries realistic
    markup around the fields the extraction reads."""
    items = "".join(f'<li class="nav-item"><a href="/ershoufang/rs{int(x)}/">'
                    f'推荐房源{int(x)}</a><span class="tag">近地铁</span></li>'
                    for x in rng.integers(0, 10**6, n))
    return f'<div class="nav"><ul class="nav-list">{items}</ul></div>'


def _li(label, value, soup):
    # tag soup drops the closing </li>; HtmlSoup closes it at the next <li>
    return f"<li><span>{label}</span>{value}" + ("\n" if soup else "</li>\n")


def _page(rng, soup, head, rows, tail):
    body = "".join(_li(k, v, soup) for k, v in rows)
    top = "<!DOCTYPE html><html><body>\n" if soup else "<html><body>\n"
    brk = "<br>" if soup else "<br/>"
    return (f"{top}{_filler(rng, 8)}{brk}\n{head}<ul>\n{body}</ul>\n"
            f"{_filler(rng, 8)}\n{tail}</body></html>")


def _village(rng, vid, soup):
    dist = list(DISTRICTS)[int(rng.integers(0, len(DISTRICTS)))]
    area = DISTRICTS[dist][int(rng.integers(0, len(DISTRICTS[dist])))]
    year, buildings, total = int(rng.integers(1985, 2021)), int(rng.integers(2, 80)), int(rng.integers(100, 4000))
    lng, lat = round(float(rng.uniform(121.2, 121.8)), 6), round(float(rng.uniform(30.9, 31.4)), 6)
    cls = "class=detailTitle" if soup else 'class="detailTitle"'
    amp = " &amp; " if not soup else " & "
    head = (f'<h1 {cls}>小区{vid % 100000}</h1>\n'
            f'<div class="detailDesc">{dist} {area} {ROADS[vid % len(ROADS)]}{vid % 900 + 1}弄</div>\n'
            f'<a class="crumb">{dist}</a><a class="crumb">{area}</a>\n'
            f'<span class="xiaoquInfoContent year">{year}年建成</span>\n')
    rows = [("建筑类型", BUILD_TYPES[vid % 3]), ("物业费用", f"{1 + vid % 5}.5元/平米/月"),
            ("物业公司", f"物业{vid % 37}{amp}服务"), ("开发商", f"置地{vid % 53}"),
            ("楼栋总数", f"{buildings}栋"), ("房屋总数", f"{total}户")]
    tail = f"<script>var x=1;resblockPosition:'{lng},{lat}',resblockName</script>\n"
    return _page(rng, soup, head, rows, tail), {"year": year, "buildings": buildings, "total_house": total}


def _house(rng, hid, vid, sold, soup):
    price10 = int(rng.integers(1500, 30000))        # 售价 in tenths of 万元
    area100 = int(rng.integers(3000, 25000))        # 建筑面积 in hundredths of ㎡
    listed = dt.date(2015, 1, 1) + dt.timedelta(days=int(rng.integers(0, 2500)))
    cls = "class=main" if soup else 'class="main"'
    title = f"{LAYOUTS[hid % 5][:2]} 满五唯一 {'& ' if soup else '&amp; '}近地铁"
    community = (f'<div class="communityName"><a class="info" href="/xiaoqu/{vid}/">'
                 f"小区{vid % 100000}</a></div>\n")
    rows = [("房屋户型", LAYOUTS[hid % 5]), ("所在楼层", f"{FLOORS[hid % 3]} (共{6 + hid % 28}层)"),
            ("建筑面积", f"{area100 / 100:.2f}㎡"), ("套内面积", f"{area100 * 0.8 / 100:.2f}㎡"),
            ("房屋朝向", FACING[hid % 4]), ("装修情况", DECOR[hid % 3]),
            ("建成年代", f"{1990 + hid % 30}年"), ("挂牌时间", listed.isoformat()),
            ("上次交易", (listed - dt.timedelta(days=1500)).isoformat()),
            ("交易权属", "商品房"), ("房屋用途", "普通住宅"), ("产权所属", "非共有")]
    fact = {"price10": price10, "area100": area100, "listed": listed.isoformat()}
    if sold:
        deal10 = price10 - int(rng.integers(0, 500))
        deal = listed + dt.timedelta(days=int(rng.integers(10, 300)))
        head = (f"<h1 {cls}>{title}</h1>\n"
                f'<div class="wrapper">{deal.year}.{deal.month}.{deal.day} 成交</div>\n'
                f'<span class="dealTotalPrice"><i>{deal10 / 10:.1f}</i></span>\n'
                f'<div class="price"><b>{price10 / 10:.1f}</b></div>\n{community}')
        fact.update(deal10=deal10, deal=deal.isoformat())
        tail = ""
    else:
        follow = int(rng.integers(0, 500))
        head = f'<h1 {cls}>{title}</h1>\n<span class="total">{price10 / 10:.1f}</span>\n{community}'
        rows.append(("链家编号", str(107100000000 + hid)))
        tail = f'<span class="count">{follow}</span>\n'
        fact["follow"] = follow
    return _page(rng, soup, head, rows, tail), fact


def site(seed, n_villages, n_onsale, n_sold, soup_share, out):
    """Write the three page tables into `out`; return the expected facts."""
    rng = np.random.default_rng(seed)
    n_pages = n_villages + n_onsale + n_sold
    soup = np.zeros(n_pages, bool)
    soup[rng.choice(n_pages, int(round(soup_share * n_pages)), replace=False)] = True
    vids = [5011000000000 + int(v) for v in rng.choice(10**8, n_villages, replace=False)]
    villages, vfacts = [], {}
    for i, vid in enumerate(vids):
        html, fact = _village(rng, vid, bool(soup[i]))
        villages.append((f"{BASE}/xiaoqu/{vid}/", html))
        vfacts[str(vid)] = fact
    statuses = {}
    houses = {"onsale": [], "sold": []}
    hfacts = {}
    for j in range(n_onsale + n_sold):
        sold = j >= n_onsale
        hid = 107000000000 + j * 7 + int(rng.integers(0, 7))
        vid = vids[int(rng.integers(0, n_villages))]
        html, fact = _house(rng, hid, vid, sold, bool(soup[n_villages + j]))
        path = "chengjiao" if sold else "ershoufang"
        houses["sold" if sold else "onsale"].append((f"{BASE}/{path}/{hid}.html", html))
        st = statuses.setdefault("成交" if sold else "在售",
                                 {"houses": 0, "villages": set(), "price10": 0, "deal10": 0})
        st["houses"] += 1
        st["villages"].add(vid)
        st["price10"] += fact["price10"]
        st["deal10"] += fact.get("deal10", 0)
        hfacts[str(hid)] = dict(fact, village=str(vid), status="成交" if sold else "在售")
    for name, rows in (("village_pages", villages), ("onsale_pages", houses["onsale"]),
                       ("sold_pages", houses["sold"])):
        _write(out, name, {"url": pa.array([u for u, _ in rows], pa.string()),
                           "html": pa.array([h for _, h in rows], pa.string())})
    pick = rng.choice(sorted(hfacts), 4, replace=False)
    return {
        "pages": n_pages,
        "soup_pages": int(soup.sum()),
        "villages": n_villages,
        "status": {k: {"houses": v["houses"], "villages": len(v["villages"]),
                       "price10": v["price10"], "deal10": v["deal10"]}
                   for k, v in statuses.items()},
        "sample_villages": {k: vfacts[k] for k in sorted(vfacts)[:3]},
        "sample_houses": {k: hfacts[k] for k in sorted(pick)},
    }
