package graft.spec

import graft.algo.{EmailNotifier, Notifier, NotifierFactory}
import graft.spec.TerminatorSpec
import org.scalatest.funsuite.AnyFunSuite

/** The reference's notifier unit tests executed verbatim:
  * `tests/unit/test_notification_factory.py` (type dispatch),
  * `tests/unit/test_notification_creation.py` (template creation + the
  * Graph-API office365 body) and
  * `tests/unit/test_failure_notification_creation.py` (the failure path
  * from terminate specs through a real SMTP exchange). */
class ReferenceNotifierFactorySpec extends AnyFunSuite {

  /** Stand-ins for the reference's attachments, vendored with its file
    * names (FIXTURES.md §9). */
  private val attachmentsPath = {
    val url = getClass.getResource("/notification/")
    assert(url != null, "missing fixture notification/")
    new java.io.File(url.toURI).getPath + "/"
  }

  private def emailArgs(extra: (String, Any)*): Map[String, Any] =
    Map[String, Any](
      "server" -> "localhost", "port" -> "1025", "type" -> "email",
      "from" -> "test-email@email.com",
      "to" -> Seq("test-email1@email.com", "test-email2@email.com")) ++ extra

  // ---- test_notification_factory.py ------------------------------------

  test("wrong notifier type raises the reference's message") {
    val e = intercept[NotifierFactory.NotifierNotFoundException] {
      NotifierFactory.getNotifier(TerminatorSpec("notify",
        emailArgs("type" -> "snailmail", "template" -> "failure_notification_email")))
    }
    assert(e.getMessage ==
      "The requested notification format snailmail is not supported.")
  }

  test("email notifier resolves with type email") {
    val n = NotifierFactory.getNotifier(TerminatorSpec("notify",
      emailArgs("template" -> "failure_notification_email")))
    assert(n.tpe == "email")
  }

  // ---- test_notification_creation.py -----------------------------------

  test("template creation renders the reference's expected message") {
    val n = NotifierFactory.getNotifier(TerminatorSpec("notify",
      emailArgs("template" -> "failure_notification_email",
        "exception" -> "test-exception")))
    val built = n.createNotification()
    assert(String.valueOf(built("message")) ==
      "\n            Job local in workspace local has\n" +
        "            failed with the exception: test-exception")
  }

  test("missing template raises the reference's message") {
    val n = NotifierFactory.getNotifier(TerminatorSpec("notify",
      emailArgs("template" -> "missing template", "exception" -> "test-exception")))
    val e = intercept[EmailNotifier.NotifierTemplateNotFoundException](
      n.createNotification())
    assert(e.getMessage == "Template missing template does not exist")
  }

  test("malformed acon (no template, no message) raises the reference's message") {
    val n = NotifierFactory.getNotifier(TerminatorSpec("notify",
      emailArgs("exception" -> "test-exception")))
    val e = intercept[EmailNotifier.NotifierConfigException](n.createNotification())
    assert(e.getMessage == "Malformed Notification Definition")
  }

  test("office365 graph body: recipients mapped for a simple message") {
    val body = EmailNotifier.createGraphApiEmailBody(
      emailArgs("subject" -> "test-subject", "message" -> "test-message"))
    assert(body.message.toRecipients.map(_.address) ==
      Seq("test-email1@email.com", "test-email2@email.com"))
    assert(body.message.ccRecipients.isEmpty && body.message.bccRecipients.isEmpty)
    assert(body.message.body == EmailNotifier.GraphItemBody("text", "test-message"))
    assert(!body.saveToSentItems)
  }

  test("office365 graph body: cc/bcc, html mimetype and raw-byte attachments") {
    val files = Seq(s"${attachmentsPath}test_attachement.txt",
      s"${attachmentsPath}test_image.png")
    assume(files.forall(f => java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    val body = EmailNotifier.createGraphApiEmailBody(Map[String, Any](
      "server" -> "localhost", "port" -> "1025", "type" -> "email",
      "from" -> "test-email@email.com",
      "cc" -> Seq("test-email1@email.com", "test-email2@email.com"),
      "bcc" -> Seq("test-email3@email.com", "test-email4@email.com"),
      "mimetype" -> "html", "subject" -> "test-subject",
      "message" -> "test-message", "attachments" -> files))
    assert(body.message.ccRecipients.map(_.address) ==
      Seq("test-email1@email.com", "test-email2@email.com"))
    assert(body.message.bccRecipients.map(_.address) ==
      Seq("test-email3@email.com", "test-email4@email.com"))
    assert(body.message.body.contentType == "html")
    body.message.attachments.zip(files).foreach { case (a, f) =>
      assert(a.name == f.split("/").last)
      assert(a.contentBytes.sameElements(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))))
      assert(a.size == a.contentBytes.length)
    }
  }

  // ---- test_failure_notification_creation.py ---------------------------

  test("generateFailureNotification delivers the failure email over live SMTP") {
    // mirrors the reference's scenario end to end: a notify terminate
    // spec + an exception -> a real SMTP exchange against a local debug
    // server, the delivered body parsed back with the reference driver's
    // own regex (`test_failure_notification_creation.py:107`)
    val messages = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
        val out = new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8")
        def send(s: String): Unit = { out.write(s + "\r\n"); out.flush() }
        send("220 localhost SMTP fake")
        var line = in.readLine()
        while (line != null) {
          val u = line.toUpperCase
          if (u.startsWith("EHLO") || u.startsWith("HELO")) send("250 localhost")
          else if (u.startsWith("STARTTLS")) send("454 TLS not available")
          else if (u.startsWith("AUTH")) send("502 command not implemented")
          else if (u.startsWith("MAIL") || u.startsWith("RCPT")) send("250 OK")
          else if (u.startsWith("DATA")) {
            send("354 End data with <CR><LF>.<CR><LF>")
            val sb = new StringBuilder
            var l = in.readLine()
            while (l != null && l != ".") { sb.append(l).append('\n'); l = in.readLine() }
            messages.add(sb.toString)
            send("250 OK")
          } else if (u.startsWith("QUIT")) { send("221 bye"); line = null }
          else send("250 OK")
          if (line != null) line = in.readLine()
        }
        sock.close()
      } catch { case _: Exception => () }
    })
    t.setDaemon(true); t.start()
    try {
      NotifierFactory.generateFailureNotification(
        Seq(TerminatorSpec("notify", emailArgs(
          "template" -> "failure_notification_email",
          "port" -> port.toString, "on_failure" -> true))),
        new RuntimeException("Test exception"))
      t.join(10000)
      assert(messages.size == 1)
      val mail = messages.get(0)
      val m = java.util.regex.Pattern.compile("(?<=bit\n).*?(?=--=)",
        java.util.regex.Pattern.DOTALL).matcher(mail)
      assert(m.find(), mail)
      val bodyText = m.group().drop(1).dropRight(1)
      assert(bodyText ==
        "\n            Job local in workspace local has\n" +
          "            failed with the exception: Test exception")
    } finally server.close()
  }

  test("failure-notification classification: defaults and template gate") {
    def check(args: Map[String, Any]): Boolean =
      NotifierFactory.checkIfNotificationIsFailureNotification(
        TerminatorSpec("notify", args))
    // on_failure defaults TRUE, free-form and template-backed alike
    assert(check(Map("message" -> "m")))
    assert(check(Map("template" -> "failure_notification_email")))
    assert(!check(Map("message" -> "m", "on_failure" -> false)))
    // unknown template raises the reference's ValueError text
    val e = intercept[IllegalArgumentException](check(Map("template" -> "nope")))
    assert(e.getMessage == "Template nope not found.")
  }
}
