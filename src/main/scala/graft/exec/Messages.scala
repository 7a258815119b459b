package graft.exec

import graft.core.HV

import java.io.{DataInputStream, DataOutputStream}

/** Wire protocol: 4-byte big-endian length prefix + UTF-8 JSON object with a
  * flat string/number field set (mirrors the reference's length-prefixed
  * framing, maggy/core/rpc.py:205-257, with JSON instead of cloudpickle).
  * Every request carries the experiment secret (reference rpc.py:366-375).
  */
object Wire {
  def send(out: DataOutputStream, fields: Map[String, String]): Unit = {
    val json = fields.toSeq.sortBy(_._1)
      .map { case (k, v) => HV.S(k).jsonRender + ":" + HV.S(v).jsonRender }
      .mkString("{", ",", "}")
    val bytes = json.getBytes("UTF-8")
    out.writeInt(bytes.length)
    out.write(bytes)
    out.flush()
  }

  def recv(in: DataInputStream): Map[String, String] = {
    val len = in.readInt()
    require(len >= 0 && len < (1 << 24), s"bad frame length $len")
    val buf = new Array[Byte](len)
    in.readFully(buf)
    parseFlat(new String(buf, "UTF-8"))
  }

  /** Minimal parser for the flat {"k":"v",...} objects this protocol emits
    * (all values are JSON strings written by [[send]]). */
  def parseFlat(s: String): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    def skipWs(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def parseString(): String = {
      require(s(i) == '"', s"expected string at $i in $s")
      i += 1
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case '"' => sb += '"'
            case '\\' => sb += '\\'
            case 'n' => sb += '\n'
            case 'r' => sb += '\r'
            case 't' => sb += '\t'
            case 'u' =>
              sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 4
            case c => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.toString
    }
    skipWs()
    require(s(i) == '{', "expected object")
    i += 1
    skipWs()
    while (s(i) != '}') {
      val k = parseString()
      skipWs()
      require(s(i) == ':', "expected colon")
      i += 1
      skipWs()
      val v = parseString()
      m(k) = v
      skipWs()
      if (s(i) == ',') { i += 1; skipWs() }
    }
    m.toMap
  }
}

/** Message + response type tags (reference: REG/QUERY/METRIC/FINAL/GET/LOG,
  * maggy/core/rpc.py:395-511). REG, LOG → OK; METRIC → OK or STOP; GET and
  * FINAL → the slot's next assignment: TRIAL, GSTOP, or IDLE after the
  * request was parked while the optimizer had nothing to hand out. FINAL
  * carries `partition` and, when the train fn broadcast any, the
  * reporter's `last_step` and `last_value`. */
object MsgType {
  val Reg = "REG"
  val Get = "GET"
  val Metric = "METRIC"
  val Final = "FINAL"
  val Log = "LOG"

  val Trial = "TRIAL"
  val Idle = "IDLE"
  val GStop = "GSTOP"
  val Stop = "STOP"
  val Ok = "OK"
  val Err = "ERR"
}

/** Flat params codec: Map[String,HV] ↔ the wire's string map, with a type
  * tag prefix so numbers round-trip typed. */
object ParamsCodec {
  def encode(params: Map[String, HV]): Map[String, String] = params.map {
    case (k, HV.D(v)) => s"p:d:$k" -> v.toString
    case (k, HV.L(v)) => s"p:l:$k" -> v.toString
    case (k, HV.S(v)) => s"p:s:$k" -> v
  }
  def decode(fields: Map[String, String]): Map[String, HV] = fields.collect {
    case (k, v) if k.startsWith("p:d:") => k.drop(4) -> (HV.D(v.toDouble): HV)
    case (k, v) if k.startsWith("p:l:") => k.drop(4) -> (HV.L(v.toLong): HV)
    case (k, v) if k.startsWith("p:s:") => k.drop(4) -> (HV.S(v): HV)
  }
}
