package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.store.RemoteKvReader

class HostReaderSpec extends AnyFunSuite {

  test("a host call that throws is counted as a failover and rethrown, and gets are spanned") {
    val port = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    val tracer = new Tracer(true)
    val host = new HostReader(new RemoteKvReader("127.0.0.1", port, "bench", connectTimeoutMs = 500), tracer)
    try {
      intercept[Exception](host.get("k".getBytes("UTF-8")))
      intercept[Exception](host.multiGet(Seq("k".getBytes("UTF-8"))))
      assert(host.errors.get() === 2)
      assert(tracer.recorded.map(_.name) === Seq("wire.get"))
    } finally host.close()
  }
}
