package graft.operators

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Money.centsOf
import graft.functions.TextAnalysis.asciiLower

/** Merchant-feed export (reference scripts/feeds/exportGoogleMerchantFeed.mjs):
  * conditional compound-predicate left join (J2), the full formatting
  * surface F12–F20 (sanitize, money format, availability/condition maps,
  * highlight, sale-price swap, bundle flag), NULLS LAST ordering (O2).
  *
  * Role mapping: part = products (p_name→title, p_retailprice→price,
  * p_size→quantity, p_brand→game), supplier = image catalog joined only
  * for one "game" (ref joins tcg_cards only ON p.game='pokemon',
  * feeds:271-281).
  *
  * All formatting is built-in string/conditional expressions — zero UDFs
  * (SURVEY §2.9) — so the whole projection stays in whole-stage codegen;
  * the dimension join is broadcast. Output order is NOT part of the
  * compare contract (driver sorts), but the ORDER BY exercises O2.
  */
object Feeds {

  val feedExport: Op = Op(
    "q_feed_export",
    """WITH products AS (
      |  SELECT p_partkey AS id, p_name AS title, p_brand AS game,
      |         p_type AS ptype, p_size AS quantity,
      |         CAST(ROUND(p_retailprice*100) AS BIGINT) AS price_cents,
      |         CASE WHEN p_size > 40
      |              THEN CAST(ROUND(p_retailprice*120) AS BIGINT) END AS compare_at_cents,
      |         translate(replace(p_name, ' ', '-'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS slug
      |  FROM part
      |), imgs AS (
      |  SELECT s_suppkey, s_name AS image_url FROM supplier
      |), joined AS (
      |  SELECT p.*, i.image_url
      |  FROM products p LEFT JOIN imgs i
      |    ON p.game = 'Brand#13' AND i.s_suppkey = (p.id % 10) + 1
      |)
      |SELECT id, title,
      |       regexp_replace(regexp_replace(title, '[ \t\n\x0B\f\r][ \t\n\x0B\f\r]+', ' ', 'g'), '^[ \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+$', '', 'g') AS title_clean,
      |       'https://shop.example/products/' ||
      |         CASE WHEN slug = '' THEN ''
      |              ELSE list_aggregate(
      |         [CASE WHEN pair BETWEEN '30' AND '39' OR pair BETWEEN '41' AND '5A'
      |                    OR pair BETWEEN '61' AND '7A'
      |                    OR pair IN ('2D','5F','2E','21','7E','2A','27','28','29')
      |               THEN decode(from_hex(pair)) ELSE '%' || pair END
      |          FOR pair IN [substr(upper(hex(encode(slug))), CAST(2*i-1 AS INT), 2)
      |                       FOR i IN range(1, octet_length(encode(slug)) + 1)]],
      |         'string_agg', '') END AS link,
      |       CASE WHEN compare_at_cents IS NOT NULL AND compare_at_cents > price_cents
      |            THEN printf('%.2f USD', compare_at_cents/100.0)
      |            ELSE printf('%.2f USD', price_cents/100.0) END AS price,
      |       CASE WHEN compare_at_cents IS NOT NULL AND compare_at_cents > price_cents
      |            THEN printf('%.2f USD', price_cents/100.0) END AS sale_price,
      |       CASE WHEN quantity > 25 THEN 'in_stock' ELSE 'out_of_stock' END AS availability,
      |       CASE WHEN quantity > 25 THEN quantity ELSE 0 END AS sell_qty,
      |       'new' AS condition,
      |       CASE WHEN ptype LIKE 'PROMO%' THEN 'Factory sealed collectible product'
      |            WHEN quantity >= 45 THEN game || ' bulk collectible'
      |            ELSE 'Collectible single' END AS highlight,
      |       CASE WHEN ptype LIKE 'PROMO%' OR ptype LIKE 'ECONOMY%'
      |            THEN 'true' ELSE 'false' END AS is_bundle,
      |       COALESCE(image_url, 'https://shop.example/placeholder.png') AS image
      |FROM joined
      |ORDER BY title ASC, id ASC""".stripMargin) { (spark, dir) =>
    val products = Tables.part(spark, dir).select(
      col("p_partkey").as("id"),
      col("p_name").as("title"),
      col("p_brand").as("game"),
      col("p_type").as("ptype"),
      col("p_size").as("quantity"),
      centsOf(col("p_retailprice")).as("price_cents"),
      when(col("p_size") > 40, round(col("p_retailprice") * 120).cast("long"))
        .as("compare_at_cents"),
      asciiLower(regexp_replace(col("p_name"), " ", "-")).as("slug"))
    val imgs = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_name").as("image_url"))
    // J2: compound-predicate conditional left join (ref feeds:271-281)
    val joined = products.join(broadcast(imgs),
      products("game") === "Brand#13" &&
        imgs("s_suppkey") === (products("id") % 10) + 1,
      "left")
    val onSale = col("compare_at_cents").isNotNull &&
      col("compare_at_cents") > col("price_cents")
    def usd(cents: org.apache.spark.sql.Column) =
      format_string("%.2f USD", cents.cast("double") / 100.0)
    joined.select(
      col("id"), col("title"),
      // F12 sanitize: collapse runs of whitespace, trim
      regexp_replace(regexp_replace(col("title"), "[ \\t\\n\\x0B\\f\\r][ \\t\\n\\x0B\\f\\r]+", " "),
        "^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$", "").as("title_clean"),
      // F15 url-encode (ref feeds:117 encodeURIComponent) — r12 verdict:
      // without it a slug carrying a reserved character emits a
      // malformed feed URL; exercised by the adversarial part names
      // (quotes/commas/tabs/newlines/non-ASCII); the native
      // byte-looping graft.expressions.UriEncode, NULL propagates
      concat(lit("https://shop.example/products/"),
        call_function("graft_uri_encode", col("slug"))).as("link"),
      // F18 sale-price swap (ref feeds:323-338)
      when(onSale, usd(col("compare_at_cents")))
        .otherwise(usd(col("price_cents"))).as("price"),
      when(onSale, usd(col("price_cents"))).as("sale_price"),
      // F16 availability map (ref feeds:126-140)
      when(col("quantity") > 25, "in_stock").otherwise("out_of_stock")
        .as("availability"),
      when(col("quantity") > 25, col("quantity")).otherwise(0).as("sell_qty"),
      lit("new").as("condition"), // F19 (ref feeds:120-124)
      // F17 highlight branches (ref feeds:142-151)
      when(col("ptype").startsWith("PROMO"),
        "Factory sealed collectible product")
        .when(col("quantity") >= 45, concat(col("game"), lit(" bulk collectible")))
        .otherwise("Collectible single").as("highlight"),
      // F20 bundle flag as strings (ref feeds:383)
      when(col("ptype").startsWith("PROMO") || col("ptype").startsWith("ECONOMY"),
        "true").otherwise("false").as("is_bundle"),
      coalesce(col("image_url"), lit("https://shop.example/placeholder.png"))
        .as("image"))
      .orderBy(col("title").asc, col("id").asc)
  }
}
