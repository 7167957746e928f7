package perfbench

import scala.collection.mutable

/** One event on the wire, as the ingest reads it from Kafka: topic,
  * JSON payload and replay order (the Kafka offset).
  */
final case class RawEvent(topic: String, value: String, seq: Long)

final case class Sale(
    saleDate: String, customerId: Int, productId: Int, quantity: Int,
    price: Double, totalPrice: Double, payment: String) {
  def day: String = saleDate.substring(0, 10)
}
final case class Product(
    name: String, description: String, category: String, price: Double,
    stock: Int)
final case class Customer(name: String, location: String)

/** A typed POS event: the producer's view of one message on one of the
  * reference's nine topics.
  */
sealed trait PosEvent {
  def seq: Long
  def topic: String
  def json: String
  def raw: RawEvent = RawEvent(topic, json, seq)
}

object PosEvent {
  private def q(s: String): String = "\"" + s + "\""
  private def saleFields(s: Sale): String =
    s""""sale_date":${q(s.saleDate)},"customer_id":${s.customerId},""" +
      s""""product_id":${s.productId},"quantity":${s.quantity},""" +
      s""""price":${s.price},"total_price":${s.totalPrice},""" +
      s""""payment_method":${q(s.payment)}"""
  private def productFields(id: Int, p: Product): String =
    s""""product_id":$id,"product_name":${q(p.name)},""" +
      s""""product_description":${q(p.description)},""" +
      s""""product_category":${q(p.category)},"product_price":${p.price},""" +
      s""""stock_level":${p.stock}"""
  private def customerFields(id: Int, c: Customer): String =
    s""""customer_id":$id,"customer_name":${q(c.name)},""" +
      s""""customer_location":${q(c.location)}"""

  final case class SaleInsert(seq: Long, sale: Sale) extends PosEvent {
    def topic = "transactions_sale"
    def json = "{" + saleFields(sale) + "}"
  }
  final case class SaleEdit(seq: Long, id: Long, sale: Sale) extends PosEvent {
    def topic = "transactions_edit"
    def json = s"""{"sale_id":$id,""" + saleFields(sale) + "}"
  }
  final case class SaleRemove(seq: Long, id: Long) extends PosEvent {
    def topic = "transactions_remove"
    def json = s"""{"sale_id":$id}"""
  }
  final case class ProductPut(seq: Long, add: Boolean, id: Int, p: Product)
      extends PosEvent {
    def topic = if (add) "products_add" else "products_edit"
    def json = "{" + productFields(id, p) + "}"
  }
  final case class ProductRemove(seq: Long, id: Int) extends PosEvent {
    def topic = "products_remove"
    def json = s"""{"product_id":$id}"""
  }
  final case class CustomerPut(seq: Long, add: Boolean, id: Int, c: Customer)
      extends PosEvent {
    def topic = if (add) "customers_add" else "customers_edit"
    def json = "{" + customerFields(id, c) + "}"
  }
  final case class CustomerRemove(seq: Long, id: Int) extends PosEvent {
    def topic = "customers_remove"
    def json = s"""{"customer_id":$id}"""
  }
}

/** Seeded producer of the POS event stream.
  *
  * The bootstrap batch adds the product and customer dimensions and a
  * sales history. Each later tick carries `perTick` events dated inside
  * its slice of simulated time, in the fixed mix [[PosEventGen.Mix]]:
  * 80% sale inserts, plus sale edits and removes aimed at recently
  * assigned sale ids (some already removed, so the ingest's no-op rules
  * are exercised), and product and customer edits, adds and removes.
  * `seq` runs across ticks like a Kafka offset.
  *
  * The producer predicts sale ids the way the ingest assigns them (in
  * `seq` order, one counter for the whole stream) only to aim edits; it
  * keeps no table state beyond the live dimension keys.
  */
final class PosEventGen(seed: Long, perTick: Int, hoursPerTick: Int) {
  import PosEvent._
  import PosEventGen._

  private val rnd = new java.util.SplittableRandom(seed)
  private var seq = 0L
  private var predictedIds = 0L
  // sale dates of the most recent inserts, for aiming edits and removes
  private val recent = mutable.ArrayDeque[(Long, String)]()
  private val products = mutable.ArrayBuffer[Int]()
  private val productCategory = mutable.Map[Int, Int]()
  private val nextProduct = mutable.Map[Int, Int]().withDefaultValue(0)
  private val customers = mutable.ArrayBuffer[Int]()
  private var nextCustomer = 1

  private def nextSeq(): Long = { seq += 1; seq - 1 }
  private def between(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)
  private def pickFrom[T](xs: collection.IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))

  private def timestamp(hourStart: Long): String = {
    val secs = hourStart * 3600L + rnd.nextInt(hoursPerTick * 3600)
    java.time.LocalDateTime.ofEpochSecond(Epoch + secs, 0,
      java.time.ZoneOffset.UTC).format(DateFmt)
  }

  private def newProduct(category: Int): (Int, Product) = {
    val id = category * 1000 + nextProduct(category)
    nextProduct(category) += 1
    products += id
    productCategory(id) = category
    id -> product(id)
  }

  private def product(id: Int): Product = {
    val cat = productCategory(id)
    Product(s"item-$id", if (rnd.nextInt(5) == 0) "" else s"desc ${rnd.nextInt(1000)}",
      Categories(cat - 1), between(100, 9999) / 100.0, between(0, 200))
  }

  private def newCustomer(): (Int, Customer) = {
    val id = nextCustomer
    nextCustomer += 1
    customers += id
    id -> customer(id)
  }

  private def customer(id: Int): Customer =
    Customer(s"customer-$id-${rnd.nextInt(100)}", pickFrom(Locations))

  private def sale(date: String): Sale = {
    val qty = between(1, 5)
    val price = between(50, 20000) / 100.0
    Sale(date, pickFrom(customers), pickFrom(products), qty, price, qty * price,
      pickFrom(Payments))
  }

  private def insert(date: String): PosEvent = {
    val e = SaleInsert(nextSeq(), sale(date))
    predictedIds += 1
    recent.append(predictedIds -> date)
    if (recent.size > RecentWindow) recent.removeHead()
    e
  }

  private def removeAt[T](xs: mutable.ArrayBuffer[T]): T =
    xs.remove(rnd.nextInt(xs.size))

  /** Dimensions plus `sales` inserts dated in the simulated hour -1. */
  def bootstrap(productsPerCategory: Int, nCustomers: Int, sales: Int): Seq[PosEvent] = {
    val dims = (1 to Categories.size).flatMap { c =>
      (0 until productsPerCategory).map { _ =>
        val (id, p) = newProduct(c)
        ProductPut(nextSeq(), add = true, id, p)
      }
    } ++ (0 until nCustomers).map { _ =>
      val (id, c) = newCustomer()
      CustomerPut(nextSeq(), add = true, id, c)
    }
    dims ++ (0 until sales).map(_ => insert(timestamp(-hoursPerTick.toLong)))
  }

  /** The events of tick `t` (simulated hours `t·h .. (t+1)·h`): the
    * same mix of event kinds every tick, in a seeded order.
    */
  def tick(t: Int): Seq[PosEvent] = {
    val kinds = Mix.flatMap { case (k, per1000) => Seq.fill(per1000 * perTick / 1000)(k) }
    val all = mutable.ArrayBuffer.from(kinds ++ Seq.fill(perTick - kinds.size)(Insert))
    (all.indices.reverse).foreach { i =>  // Fisher-Yates
      val j = rnd.nextInt(i + 1)
      val x = all(i); all(i) = all(j); all(j) = x
    }
    all.toSeq.map(kind => event(kind, timestamp(t.toLong * hoursPerTick)))
  }

  private def event(kind: Kind, date: String): PosEvent = kind match {
    case Insert => insert(date)
    case Edit if recent.nonEmpty =>
      val (id, orig) = pickFrom(recent)
      // most edits correct a sale in place; some move it to "now"
      SaleEdit(nextSeq(), id, sale(if (rnd.nextInt(5) == 0) date else orig))
    case Remove if recent.nonEmpty => SaleRemove(nextSeq(), pickFrom(recent)._1)
    case ProductEdit =>
      val id = pickFrom(products)
      ProductPut(nextSeq(), add = false, id, product(id))
    case ProductAdd =>
      val (id, p) = newProduct(between(1, Categories.size))
      ProductPut(nextSeq(), add = true, id, p)
    case ProductDrop if products.size > 1 => ProductRemove(nextSeq(), removeAt(products))
    case CustomerEdit =>
      val id = pickFrom(customers)
      CustomerPut(nextSeq(), add = false, id, customer(id))
    case CustomerAdd =>
      val (id, c) = newCustomer()
      CustomerPut(nextSeq(), add = true, id, c)
    case CustomerDrop if customers.size > 1 => CustomerRemove(nextSeq(), removeAt(customers))
    case _ => insert(date)
  }
}

object PosEventGen {
  sealed trait Kind
  case object Insert extends Kind
  case object Edit extends Kind
  case object Remove extends Kind
  case object ProductEdit extends Kind
  case object ProductAdd extends Kind
  case object ProductDrop extends Kind
  case object CustomerEdit extends Kind
  case object CustomerAdd extends Kind
  case object CustomerDrop extends Kind

  /** Events of each kind per 1,000 events of a tick; inserts fill the
    * remainder.
    */
  val Mix: Seq[(Kind, Int)] = Seq(Edit -> 80, Remove -> 40, ProductEdit -> 35,
    ProductAdd -> 3, ProductDrop -> 2, CustomerEdit -> 30, CustomerAdd -> 7,
    CustomerDrop -> 3)

  /** Category code `c` (the leading digit of a product id) → name. */
  val Categories: IndexedSeq[String] = IndexedSeq("Daily", "Meat", "Seafood",
    "Vegetable & Fruit", "Snack", "Beverage", "Alcohol")
  val Locations: IndexedSeq[String] = IndexedSeq("Bangkok", "Chiang Mai",
    "Phuket", "Khon Kaen", "Hat Yai", "Udon Thani")
  val Payments: IndexedSeq[String] =
    IndexedSeq("Cash", "Credit Card", "Debit Card", "PayPal")
  /** Sale ids an edit or remove may aim at: about two ticks of inserts. */
  val RecentWindow = 2000
  /** Simulated time starts at 2025-02-01 00:00:00 UTC. */
  val Epoch: Long = 1738368000L
  val DateFmt: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
}

/** Sequential replay of the events, the semantics the ingest must
  * reproduce with set operations: sale ids are assigned to inserts in
  * `seq` order from one counter; an edit replaces the row of an
  * existing key and is a no-op on a missing key; a remove deletes an
  * existing key and is a no-op otherwise; an add of an existing
  * product or customer replaces it.
  */
final class ReplayModel {
  import PosEvent._

  val sales = mutable.TreeMap[Long, Sale]()
  val products = mutable.TreeMap[Int, Product]()
  val customers = mutable.TreeMap[Int, Customer]()
  private var maxSaleId = 0L

  def apply(batch: Seq[PosEvent]): Unit = batch.sortBy(_.seq).foreach {
    case SaleInsert(_, s) => maxSaleId += 1; sales(maxSaleId) = s
    case SaleEdit(_, id, s) => if (sales.contains(id)) sales(id) = s
    case SaleRemove(_, id) => sales.remove(id)
    case ProductPut(_, add, id, p) =>
      if (add || products.contains(id)) products(id) = p
    case ProductRemove(_, id) => products.remove(id)
    case CustomerPut(_, add, id, c) =>
      if (add || customers.contains(id)) customers(id) = c
    case CustomerRemove(_, id) => customers.remove(id)
  }
}
